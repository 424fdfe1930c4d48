"""Streaming incremental near-duplicate detection: a persistent MinHash
signature store updated per micro-batch — each arriving batch is
LSH-matched against everything ingested before it, then its own
signatures join the store. The streaming face of
operators/dedup.py::lsh_pairs_between (same banding, same stores), and
the missing piece between batch dedup and continuous ingestion.

State layout is the shared two-generation atomic-swap scheme
(streaming/_state.py::GenerationState, also used by StreamingHllState).
Unlike HLL state, APPENDING signatures is not idempotent under
micro-batch replay — foreachBatch re-delivers the last uncommitted
batch after a crash — so the marker also records the last committed
batch_id and :meth:`update` skips batches at-or-below it (exactly-once
state, at-least-once match emission; match rows carry batch_id so
downstream consumers dedupe replays trivially). CAUTION: the guard
identifies replays by batch id alone, so the store and the streaming
checkpoint directory must live and die TOGETHER — resetting the
checkpoint while keeping the store restarts batch ids at 0 and every
"new" batch would be skipped as a replay (a warning is emitted on every
skip to make that visible).

Scale shape per batch: signatures are ONE mapInArrow pass over the NEW
batch (persisted for the duration of the update, released after — both
the match join and the store append read the same cached frame); the
store side is two columnar parquet scans (melt + sig join) and is never
re-hashed; the band equi-join is the candidate-bounded LSH shape. Store
growth is 8B x num_hashes + id per document — ~0.5 KB/doc at the
defaults, independent of document size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pfutil_spark.operators._cache import CacheScope
from pfutil_spark.operators.dedup import lsh_pairs_between, minhash_signatures
from pfutil_spark.streaming._state import GenerationState


class StreamingSignatureStore:
    """Persistent signature store + per-batch cross matcher."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        matches_dir: str,
        text: str = "text",
        id_col: str = "doc_id",
        num_hashes: int = 64,
        bands: int = 16,
        k: int = 5,
        min_jaccard: float = 0.5,
        method: str = "classic",
    ):
        self.spark = spark
        self._state = GenerationState(state_dir)
        self._matches_state = GenerationState(matches_dir)  # path validation
        self.matches_dir = matches_dir.rstrip("/")
        self.text = text
        self.id_col = id_col
        self.num_hashes = num_hashes
        self.bands = bands
        self.k = k
        self.min_jaccard = min_jaccard
        self.method = method

    def _read_marker(self) -> tuple[int, int]:
        return self._state.marker_pair()

    def current(self) -> DataFrame | None:
        """The signature store as of the last committed batch."""
        gen, _ = self._read_marker()
        if gen < 0:
            return None
        return self.spark.read.parquet(self._state.gen_path(gen))

    def matches(self) -> DataFrame | None:
        """All cross-batch matches emitted so far
        (batch_id, id_new, id_base, est_jaccard), or None before any
        cross-batch match has been written. Replayed batches may appear
        twice — dedupe on (batch_id, id_new, id_base) if the query
        crashed between match-append and marker-commit."""
        import os

        if not os.path.isdir(self.matches_dir):
            return None
        return self.spark.read.parquet(self.matches_dir)

    def update(self, batch_df: DataFrame, batch_id: int) -> None:
        """Match one micro-batch against the store, then append its
        signatures. Skips batch ids at or below the committed marker
        (foreachBatch replay) — with a warning, because a long run of
        skips means the streaming checkpoint was reset independently of
        this store (see module docstring)."""
        gen, last_bid = self._read_marker()
        if self._state.replay_skip(batch_id, last_bid, "StreamingSignatureStore"):
            return
        with CacheScope() as cs:
            sigs_new = cs.persist(
                minhash_signatures(
                    batch_df, self.text, self.id_col,
                    self.num_hashes, self.k, self.method,
                )
            )
            prev = self.current()
            if prev is not None:
                (
                    lsh_pairs_between(
                        sigs_new,
                        prev,
                        self.id_col,
                        self.num_hashes,
                        self.bands,
                        self.min_jaccard,
                        cache=cs,
                    )
                    .withColumn("batch_id", F.lit(batch_id))
                    .select("batch_id", "id_new", "id_base", "est_jaccard")
                    .write.mode("append")
                    .parquet(self.matches_dir)
                )
                merged = prev.unionByName(sigs_new.select(*prev.columns))
            else:
                merged = sigs_new
            merged.write.mode("overwrite").parquet(self._state.gen_path(gen + 1))
            self._state.commit(gen + 1, batch_id)


def attach_dedup_foreach_batch(
    stream_df: DataFrame,
    store: StreamingSignatureStore,
    checkpoint_dir: str,
    trigger_once: bool = True,
):
    """Wire a streaming DataFrame into the signature store via
    foreachBatch. Returns the started StreamingQuery."""
    writer = (
        stream_df.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(lambda bdf, bid: store.update(bdf, bid))
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
