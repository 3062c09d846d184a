"""Engine configuration.

Analog of the reference's config-as-catalog YAML (`scripts/settings.py:13-14`,
consumed everywhere as ``config[...]``) — one typed object instead of a dict of
paths.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class EngineConfig:
    """Tuning knobs for the CDC apply path.

    n_buckets: storage bucketing of the transcript table by ``hash(conv_id)``.
        The unit of copy-on-write during MERGE — only buckets touched by a change
        batch are rewritten (reference analog: only coastal/low tiles processed,
        `pipeline_transform_sea_level.py:1747-1792`). At 100 TB you would set this
        to O(thousands); file count per commit stays = touched buckets.
    salt_buckets: fan-out for the salted first stage of LWW dedup on hot keys.
    hot_key_threshold: a conv_id is "hot" if it carries more than this fraction
        of the sampled batch (BASELINE: top-1% keys carry ≥50% of events).
    hot_key_sample: fraction of the batch sampled for hot-key detection
        (detection must not itself shuffle the full batch).
    """

    n_buckets: int = 32
    salt_buckets: int = 16
    hot_key_threshold: float = 0.01
    hot_key_sample: float = 0.1
    # "agg" | "window" | "salted_window" | "bucket_sorted" — see operators/lww.py;
    # "bucket_sorted" is the streaming micro-batch strategy (single shuffle
    # shared between dedup and write clustering; skew granularity = bucket)
    dedup_strategy: str = "agg"
    # merge_mode:
    #   "cow" — copy-on-write: every epoch rewrites touched buckets; reads are
    #           plain scans. Write amplification O(state per touched bucket).
    #   "mor" — merge-on-read: every epoch appends per-bucket DELTA files
    #           (O(batch) writes); reads resolve LWW over base ∪ deltas;
    #           compaction folds deltas back into the base. The Iceberg
    #           v2-style tradeoff, from scratch.
    merge_mode: str = "cow"
    # mor only: auto-fold a bucket's deltas back into its base once it
    # accumulates this many delta files (bounds read amplification; 0 = never)
    max_deltas_per_bucket: int = 16
    target_file_rows: int = 5_000_000
    # write the advisory per-epoch lineage manifest off the commit path (a
    # background thread). The manifest is recomputable from the snapshot it
    # describes, so exactly-once is unaffected; what moves off the hot path
    # is a put_atomic (2 fsyncs on POSIX) per micro-batch. Streaming-tail
    # knob; batch replays amortize it and should keep the default.
    epoch_manifest_async: bool = False
    # mor + "agg" only: fuse the dedup exchange with the writer's bucket
    # clustering — ONE shuffle per epoch (repartition by storage bucket over
    # the writer's own slot count, lake_table.bucket_write_slots: 4× the
    # smaller of n_buckets and the cluster's parallelism; then aggregate by
    # (bucket, key), which Spark plans WITHOUT a second exchange because
    # bucket-partitioning already co-locates every key) instead of
    # key-exchange + bucket-exchange. Measured at the bench shape (5.25M-event
    # epochs, local[32]): 3.6 s → 2.3 s per epoch warm (r6). The trade,
    # exactly as for ``bucket_sorted``: no map-side combine BEFORE the
    # shuffle, and skew granularity becomes the storage bucket — a single
    # pathological key that dominates a batch lands its whole mass on one
    # task. For such streams set False (classic two-exchange plan whose
    # map-side partials ship ≤1 row per hot key per map task) or use the
    # salted_window strategy. Final state is identical either way
    # (tests/test_round6_fused.py pins equivalence and the plan shape).
    mor_fused_exchange: bool = True
    extra: dict = field(default_factory=dict)
