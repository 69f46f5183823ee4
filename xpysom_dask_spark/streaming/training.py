"""Online SOM training over a stream via ``foreachBatch``.

The reference's batch algorithm (xpysom.py:458-594) folds the whole
dataset into per-cell (numerator, denominator) sums once per epoch.  The
same update is naturally *incremental*: each micro-batch is one step of
the batch plan's epoch loop (``plans.training.fit_epochs`` through
``run_training``), with the learning rate/radius decayed by micro-batch
index — classic online mini-batch SOM.  The micro-batch feeds that step
through the same partial-sum sources as a batch fit: collected once to
the driver under ``fuse_local_bytes``, otherwise one distributed
``mapInArrow`` job with its broadcast codebook and tree merge.

When the source delivers everything in one micro-batch (e.g.
``availableNow`` over a small directory), the result is bit-identical
to one batch epoch — the differential test anchors on that.
"""

from __future__ import annotations

import json
import os

from ..plans.training import run_training


class StreamingSomTrainer:
    """Fold a streaming DataFrame of feature vectors into a SparkSom.

    Parameters
    ----------
    som : SparkSom
        Model to update in place (its decay schedule and kernels apply).
    horizon : int
        Decay horizon T: micro-batch t uses ``decay(v0, vN, min(t, T-1), T)``
        — the streaming analog of ``num_epochs``.  Batches beyond the
        horizon keep the final (smallest) learning rate/radius, so the
        model keeps adapting gently forever.
    epochs_per_batch : int
        Full passes over each micro-batch (default 1).
    model_dir : str | None
        When set, the codebook + batch counter are saved here after every
        micro-batch, and a pre-existing snapshot is restored on
        construction — pair with the query's ``checkpointLocation`` so a
        restarted query resumes from the last trained state instead of
        re-folding from the random init (the source checkpoint already
        skips consumed files, so without this the post-restart model
        would silently lose all pre-crash updates).
    """

    def __init__(self, som, horizon: int = 100, epochs_per_batch: int = 1,
                 model_dir: str | None = None):
        self.som = som
        self.horizon = int(horizon)
        self.epochs_per_batch = int(epochs_per_batch)
        self.batches_seen = 0
        self.model_dir = model_dir
        if model_dir and os.path.exists(os.path.join(model_dir, "state.json")):
            self._restore()

    def _state_paths(self):
        return (os.path.join(self.model_dir, "som"),
                os.path.join(self.model_dir, "state.json"))

    def _restore(self) -> None:
        base, state_path = self._state_paths()
        restored = type(self.som).load(base)
        self.som.__dict__.update(restored.__dict__)
        with open(state_path) as f:
            self.batches_seen = json.load(f)["batches_seen"]

    def _snapshot(self) -> None:
        os.makedirs(self.model_dir, exist_ok=True)
        base, state_path = self._state_paths()
        self.som.save(base)
        tmp = state_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"batches_seen": self.batches_seen}, f)
        os.replace(tmp, state_path)

    def _process_batch(self, batch_df, batch_id) -> None:
        t = min(self.batches_seen, self.horizon - 1)
        for _ in range(self.epochs_per_batch):
            run_training(self.som, batch_df, self.horizon,
                         iter_beg=t, iter_end=t + 1)
        self.batches_seen += 1
        if self.model_dir:
            self._snapshot()

    def attach(self, stream_df, checkpoint_dir: str | None = None,
               trigger: dict | None = None, query_name: str = "som_train"):
        """Start the training query; returns the ``StreamingQuery``.

        ``trigger`` is passed through to ``DataStreamWriter.trigger``
        (e.g. ``{"availableNow": True}`` to drain a directory and stop,
        or ``{"processingTime": "10 seconds"}``).
        """
        feats = stream_df.select(stream_df[self.som.features_col]
                                 .alias(self.som.features_col))
        writer = (feats.writeStream
                  .queryName(query_name)
                  .outputMode("update")
                  .foreachBatch(self._process_batch))
        if checkpoint_dir:
            writer = writer.option("checkpointLocation", checkpoint_dir)
        if trigger:
            writer = writer.trigger(**trigger)
        return writer.start()

    def fit_available(self, stream_df, checkpoint_dir: str | None = None,
                      timeout: int | None = None):
        """Drain everything currently available, then return the som."""
        q = self.attach(stream_df, checkpoint_dir,
                        trigger={"availableNow": True})
        q.awaitTermination(timeout)
        return self.som
