"""Distributed BPE tokenizer induction and encoding.

The reference has no tokenizer surface; the engine's other text ops
approximate one (``bpe_ish_token_count``'s regex).  This module trains
a REAL byte-pair-encoding merge table on the corpus and encodes with
it — the Sennrich et al. 2016 algorithm (arXiv:1508.07909), shaped for
Spark:

* **Corpus-sized work happens exactly once**: one tokenize + groupBy
  builds the (word, count) vocabulary relation — the same compression
  every production BPE trainer (subword-nmt, HF tokenizers) applies,
  because pair statistics only depend on word multiplicities.
* **The merge loop never touches the corpus again.**  Each of the
  ``num_merges`` iterations runs on the vocab relation: a codegen'd
  adjacent-pair explode → one map-side-combined count-weighted
  aggregate → the argmax pair to the driver (ONE row) → an Arrow
  kernel rewrites only the words that CONTAIN the pair (codegen
  prefilter) — work per iteration is O(vocab), usually O(matching
  words) ≪ O(corpus tokens).
* Ties break (count DESC, pair ASC), so the merge table is a pure
  function of the corpus — reproducible across partitionings and
  engines.

``learn_bpe`` returns the ordered merge list; ``bpe_encode`` applies
it to any corpus (broadcast rank dict + per-word Arrow kernel with an
LRU-less word cache per batch — words repeat heavily, so each distinct
word in a batch is encoded once).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: end-of-word marker (subword-nmt convention): merges never cross
#: word boundaries, and the marker lets the decoder restore spacing
EOW = "</w>"


def word_counts(df: DataFrame, text_col: str) -> DataFrame:
    """(word, count) vocabulary relation — the one corpus-sized pass.
    Same whitespace/lowercase normalization as the rest of the text
    family (operators/text.py tokens).  The tokenize+explode is the
    CPU cost and runs before the first shuffle, so the scan is
    repartitioned up to cluster parallelism first (optimization r13,
    guide §2.5 — no-op at real scale; counts are exact integers, so
    partitioning never changes the result)."""
    from ..plans.exchange import ensure_min_parallelism

    toks = f"filter(split(lower({text_col}), '\\\\s+'), x -> x != '')"
    return (ensure_min_parallelism(df)
            .select(F.explode(F.expr(toks)).alias("word"))
            .groupBy("word").agg(F.count(F.lit(1)).alias("count")))


def _pairs_expr() -> str:
    """Codegen: symbol array → array of adjacent 'a b' pair keys."""
    return ("CASE WHEN size(syms) < 2 THEN CAST(array() AS ARRAY<STRING>) "
            "ELSE transform(sequence(1, size(syms) - 1), "
            "i -> concat(element_at(syms, i), ' ', "
            "element_at(syms, i + 1))) END")


#: vocab-size bound for the driver-side merge loop: below it the
#: (word, count) relation collects once and the merge iterations are
#: pure Python (µs per round instead of Spark jobs); above it the
#: distributed loop runs — same algorithm, same tie-break, bit-equal
#: merge tables (tested both paths on one corpus)
DRIVER_VOCAB_LIMIT = 200_000


def learn_bpe(df: DataFrame, text_col: str, num_merges: int,
              min_count: int = 2,
              driver_vocab_limit: int = DRIVER_VOCAB_LIMIT
              ) -> list[tuple[str, str]]:
    """Train ``num_merges`` BPE merges on the corpus; returns the
    ordered merge list [(left, right), ...].  Stops early when the best
    remaining pair's weighted count falls below ``min_count``.

    Two-level execution (the SparkSom collect_threshold pattern): the
    corpus-sized tokenize+count always runs distributed; the merge
    LOOP runs driver-side when the distinct-word vocabulary fits
    (``driver_vocab_limit`` rows — vocabularies grow ~Heaps' law, so
    even large corpora often land here), else each merge round is one
    vocab-sized Spark job.
    """
    import pandas as pd

    from ..plans.exchange import ship_package

    if num_merges < 1:
        raise ValueError(f"num_merges must be >= 1, got {num_merges}")
    spark = df.sparkSession
    ship_package(spark)
    wc = word_counts(df, text_col).localCheckpoint(eager=True)
    if wc.count() <= driver_vocab_limit:
        rows = wc.collect()
        return _learn_local(
            {r["word"]: r["count"] for r in rows}, num_merges, min_count)
    vocab = (wc
             .withColumn("syms", F.expr(
                 f"concat(split(word, ''), array('{EOW}'))"))
             .select("syms", "count")
             .localCheckpoint(eager=True))

    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        best = (vocab
                .select(F.explode(F.expr(_pairs_expr())).alias("pair"),
                        "count")
                .groupBy("pair").agg(F.sum("count").alias("c"))
                .orderBy(F.col("c").desc(), F.col("pair").asc())
                .limit(1).collect())
        if not best or best[0]["c"] < min_count:
            break
        left, right = best[0]["pair"].split(" ", 1)
        merges.append((left, right))
        pair_key, joined = f"{left} {right}", left + right

        def rewrite(batches, _pk=pair_key, _l=left, _r=right, _j=joined):
            for pdf in batches:
                out = []
                for syms in pdf["syms"]:
                    s, i, n = [], 0, len(syms)
                    while i < n:
                        if (i + 1 < n and syms[i] == _l
                                and syms[i + 1] == _r):
                            s.append(_j)
                            i += 2
                        else:
                            s.append(syms[i])
                            i += 1
                    out.append(s)
                pdf = pdf.copy()
                pdf["syms"] = out
                yield pdf

        # bound literal, not an inlined string: pair symbols come from
        # corpus text and may contain quotes/regex metacharacters
        has_pair = F.array_contains(F.expr(_pairs_expr()),
                                    F.lit(pair_key))
        matching = vocab.where(has_pair)
        untouched = vocab.where(~has_pair)
        rewritten = matching.mapInPandas(
            rewrite, "syms array<string>, count bigint")
        # checkpoint per round: truncates the (filter + kernel) lineage
        # so iteration k is O(vocab), not O(k · vocab)
        vocab = rewritten.unionByName(untouched) \
            .localCheckpoint(eager=True)
    return merges


def _learn_local(word_count: dict, num_merges: int,
                 min_count: int) -> list[tuple[str, str]]:
    """Driver-side merge loop over a collected (word → count) dict —
    the same statistics, argmax, and (count DESC, pair ASC) tie-break
    as the distributed rounds, so path choice never changes the merge
    table (asserted by the two-path test).

    Incremental form (optimization r13, the subword-nmt index idea):
    pair counts and a pair → {words containing it} index are built
    once; each round rewrites ONLY the words containing the winning
    pair and adjusts the affected pair counts by exact deltas, instead
    of recounting every adjacent pair of every word per round.  The
    counts after each round equal the full recount by construction
    (each rewritten word retracts all its old adjacent pairs and
    asserts all its new ones), so argmax and tie-break see identical
    statistics — pinned by the differential test against the
    recount-per-round reference."""
    vocab: dict[tuple, int] = {}
    for w, c in word_count.items():
        syms = tuple(list(w) + [EOW])
        vocab[syms] = vocab.get(syms, 0) + c

    pc: dict[tuple[str, str], int] = {}
    pw: dict[tuple[str, str], set] = {}
    for syms, c in vocab.items():
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            pc[p] = pc.get(p, 0) + c
            pw.setdefault(p, set()).add(syms)

    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        if not pc:
            break
        pair, cnt = min(
            pc.items(), key=lambda kv: (-kv[1],
                                        kv[0][0] + " " + kv[0][1]))
        if cnt < min_count:
            break
        merges.append(pair)
        a, b = pair
        joined = a + b
        for syms in list(pw.get(pair, ())):
            c = vocab.pop(syms)
            # retract the old word's adjacent pairs (multiplicity-
            # aware: a pair can occur several times inside one word)
            old: dict[tuple[str, str], int] = {}
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                old[p] = old.get(p, 0) + 1
            for p, k in old.items():
                n = pc[p] - c * k
                if n:
                    pc[p] = n
                else:
                    del pc[p]
                ws = pw[p]
                ws.discard(syms)
                if not ws:
                    del pw[p]
            # rewrite, then assert the new word's pairs
            s, i, n = [], 0, len(syms)
            while i < n:
                if i + 1 < n and syms[i] == a and syms[i + 1] == b:
                    s.append(joined)
                    i += 2
                else:
                    s.append(syms[i])
                    i += 1
            t = tuple(s)
            vocab[t] = vocab.get(t, 0) + c
            new: dict[tuple[str, str], int] = {}
            for i in range(len(t) - 1):
                p = (t[i], t[i + 1])
                new[p] = new.get(p, 0) + 1
            for p, k in new.items():
                pc[p] = pc.get(p, 0) + c * k
                pw.setdefault(p, set()).add(t)
    return merges


def encode_word(word: str, ranks: dict) -> list[str]:
    """One word's BPE symbols: start from its characters plus ``EOW``
    and repeatedly apply the lowest-rank merge present (``ranks`` maps
    ``"left right"`` to merge rank)."""
    syms = list(word) + [EOW]
    while len(syms) > 1:
        best_i, best_rank = -1, None
        for i in range(len(syms) - 1):
            r = ranks.get(syms[i] + " " + syms[i + 1])
            if r is not None and (best_rank is None or r < best_rank):
                best_i, best_rank = i, r
        if best_rank is None:
            break
        syms[best_i:best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def bpe_encode(df: DataFrame, text_col: str,
               merges: list[tuple[str, str]],
               out_col: str = "bpe_tokens") -> DataFrame:
    """Append ``out_col``: the text's BPE subword tokens under the
    learned merge table (greedy lowest-rank-first, the standard BPE
    encoder).  The rank dict broadcasts; every DISTINCT word is
    encoded once per task (words repeat heavily, so the memo is the
    dominant saving), then documents stitch back together.

    Boundary shape (optimization r13, guide §4.1/§4.5): an ITERATOR
    pandas_udf over the token-array column only — the previous
    mapInPandas form declared the full row schema, so every payload
    column (text, metadata) crossed JVM → Python → JVM even though the
    kernel reads one column; as an expression, only the word arrays
    cross and the rest of the row never leaves the JVM.  The iterator
    form also hoists the word memo from per-batch to per-task."""
    from ..plans.exchange import ship_package

    spark = df.sparkSession
    ship_package(spark)
    ranks = {f"{l} {r}": i for i, (l, r) in enumerate(merges)}
    bc = spark.sparkContext.broadcast(ranks)

    @F.pandas_udf("array<string>")
    def enc(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        rk = bc.value
        memo: dict[str, list[str]] = {}
        for words_s in batches:
            toks_out = []
            for words in words_s:
                doc: list[str] = []
                for w in words:
                    e = memo.get(w)
                    if e is None:
                        e = encode_word(w, rk)
                        memo[w] = e
                    doc.extend(e)
                toks_out.append(doc)
            yield pd.Series(toks_out)

    toks = f"filter(split(lower({text_col}), '\\\\s+'), x -> x != '')"
    return df.withColumn(out_col, enc(F.expr(toks)))


def bpe_vocab(merges: list[tuple[str, str]],
              base_symbols=None) -> dict[str, int]:
    """Deterministic symbol → id table for a learned merge list:
    byte/char base symbols first (id = codepoint order), then one new
    symbol per merge in merge order — the id space every BPE
    implementation ships.  ``base_symbols=None`` uses printable ASCII
    plus the EOW marker; pass the corpus's observed character set for
    full coverage of non-ASCII text."""
    if base_symbols is None:
        base_symbols = [chr(c) for c in range(32, 127)]
    vocab: dict[str, int] = {}
    for s in sorted(set(base_symbols)):
        vocab.setdefault(s, len(vocab))
    vocab.setdefault(EOW, len(vocab))
    for left, right in merges:
        vocab.setdefault(left + right, len(vocab))
    return vocab


def bpe_encode_ids(df: DataFrame, text_col: str,
                   merges: list[tuple[str, str]],
                   vocab: dict[str, int] | None = None,
                   out_col: str = "token_ids",
                   unk_id: int = -1) -> DataFrame:
    """``bpe_encode`` + id lookup in one pass: append ``out_col`` =
    array<int> under :func:`bpe_vocab`'s id space (symbols outside the
    vocab — characters never seen in ``base_symbols`` — map to
    ``unk_id``).  The id table rides the same broadcast as the ranks;
    no join, no extra shuffle over the token stream — and a single
    column-level pandas_udf (optimization r13, guide §4.1): the
    previous form chained a second full-row mapInPandas, so every
    payload column and the intermediate symbol arrays crossed the
    boundary twice."""
    from ..plans.exchange import ship_package

    spark = df.sparkSession
    ship_package(spark)
    vocab = bpe_vocab(merges) if vocab is None else vocab
    ranks = {f"{l} {r}": i for i, (l, r) in enumerate(merges)}
    bc = spark.sparkContext.broadcast((ranks, vocab, int(unk_id)))

    @F.pandas_udf("array<int>")
    def enc_ids(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        rk, v, unk = bc.value
        memo: dict[str, list[int]] = {}
        for words_s in batches:
            out = []
            for words in words_s:
                doc: list[int] = []
                for w in words:
                    e = memo.get(w)
                    if e is None:
                        e = [v.get(s, unk) for s in encode_word(w, rk)]
                        memo[w] = e
                    doc.extend(e)
                out.append(doc)
            yield pd.Series(out)

    toks = f"filter(split(lower({text_col}), '\\\\s+'), x -> x != '')"
    return df.withColumn(out_col, enc_ids(F.expr(toks)))


def bpe_decode(df: DataFrame, tokens_col: str,
               out_col: str = "text_decoded") -> DataFrame:
    """Inverse of :func:`bpe_encode`: concatenate the subword symbols
    and turn each end-of-word marker into a space — one whole-stage-
    codegen expression (array_join + replace + trim), no UDF, so
    detokenizing 100 TB costs scan speed.  Round-trips
    ``bpe_encode``'s normalization exactly: decoded text equals the
    original lowercased with whitespace collapsed to single spaces
    (the same contract as ``text.tokens``)."""
    return df.withColumn(
        out_col, F.trim(F.expr(
            f"replace(array_join({tokens_col}, ''), '{EOW}', ' ')")))


def bpe_decode_ids(df: DataFrame, ids_col: str,
                   merges: list[tuple[str, str]],
                   vocab: dict[str, int] | None = None,
                   out_col: str = "text_decoded",
                   unk_id: int = -1,
                   unk_token: str = "[UNK]") -> DataFrame:
    """Inverse of :func:`bpe_encode_ids`: ids → symbols via the
    broadcast inverse table (dense-id list indexing, O(1) per token),
    then the :func:`bpe_decode` reassembly — one Arrow pass over the
    ids column ONLY (optimization r13, guide §4.1: the previous
    full-row mapInPandas shipped every payload column through Python).
    ``unk_id`` decodes to ``unk_token`` (lossy by construction, like
    every real tokenizer's round trip through UNK)."""
    from ..plans.exchange import ship_package

    spark = df.sparkSession
    ship_package(spark)
    vocab = bpe_vocab(merges) if vocab is None else vocab
    inv = [None] * (max(vocab.values()) + 1)
    for s, i in vocab.items():
        inv[i] = s
    bc = spark.sparkContext.broadcast((inv, int(unk_id), unk_token))

    @F.pandas_udf("string")
    def dec(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        iv, unk, unk_tok = bc.value
        n = len(iv)
        for ids_s in batches:
            texts = []
            for ids in ids_s:
                syms = [unk_tok if i == unk or not 0 <= i < n
                        or iv[i] is None else iv[i]
                        for i in (ids if ids is not None else [])]
                texts.append(
                    "".join(syms).replace(EOW, " ").strip())
            yield pd.Series(texts)

    return df.withColumn(out_col, dec(F.col(ids_col)))
