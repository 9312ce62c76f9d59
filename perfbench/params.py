"""Frozen workload parameters. Changing any value here changes the
benchmark: the parent and child of a compared pair must share them."""

# Spark runs as local[min(SPARK_CPUS, CPUs)]. The per-job fixed cost, not
# task parallelism, dominates at these sizes: 1, 2 and 4 cores run the read
# cycle equally fast. With one task thread the JVM spends about 30% less
# CPU per read than with two, and the figure spreads less from run to run.
SPARK_CPUS = 1

# Share of --seconds each open-loop workload spends in its paced phase;
# the rest drains a pre-produced backlog at saturation.
PACED_SHARE = 0.6

EVENT_FEED = {
    # offered rate of the paced phase. The backlog phase sustains about
    # 25k events/s on a 4-core host, but the generator, the broker and the
    # ingest loop share one interpreter; at 2.5k-5k events/s freshness
    # swings run to run with contention, so the paced rate sits below that.
    "rate_eps": 1000,
    # the generator produces one RecordBatch per tick; ticks are Poisson
    # arrivals with this mean gap
    "tick_s": 0.1,
    "compression": "zstd",
    # events drained per backlog-phase poll and pre-produced per run
    "drain_max": 5_000,
    "backlog_events": 50_000,
    "warmup_events": 500,
    "setup_reps": 3,
}

SNAPSHOT_READS = {
    "n_orders": 15_000,
    # the seed rows land as this many data files in one commit at LSN 1;
    # the CDC transactions after it (LSN 2, 3, ...) each leave one DV file
    # per data file they touch, and a read-your-writes lookup follows each
    "fragment_files": 30,
    "fragment_txns": 1,
    "txn_events": 250,
    "ryw_keys": 32,
    "mix": (0.60, 0.25, 0.15),
    "zipf_s": 1.1,
    "lookup_keys": 64,
    # vector index over a clustered embedding corpus
    "n_vecs": 2_000,
    "dim": 64,
    "clusters": 10,
    "ivf_k": 8,
    "pq_m": 8,
    "ann_queries": 10,
    "topk": 3,
    "nprobe": 2,
    "rerank": 12,
    # registry operators over the seed lineitem file, forced through the
    # noop sink; they carry the operators layer
    "operators": ("q1_pricing_summary", "percentiles_by_flag"),
    "setup_reps": 3,
}
