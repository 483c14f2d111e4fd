"""Everything the benchmark pins: session confs, the warm-cache layout and the
workload sizes.

The values start from bench.py's (session confs in ``bench_session``, layout
in ``main``) but are copied, not imported: consolidating or retuning the repo's
bench scripts must not move this baseline. Two values differ from bench.py on
purpose: the driver heap (below) and the headline scale (below). Changing a
value here is a benchmark change, measured again before any claim rests on it.
"""

from __future__ import annotations

# bench_session(): 8 shuffle partitions, 32 MB broadcast threshold, AQE off,
# 64k-row cached batches, shuffled hash join preferred. Console progress bars
# and INFO logs are switched off so stdout stays parseable; the progress
# history is raised so a whole measured run stays inspectable. The driver
# heap is 2g, not get_spark's 8g default that bench.py runs with: the
# benchmark's peak storage memory stays under 40 MB, and a heap allowed to grow to 8g
# would claim half of a 16 GB host that other processes share.
SHUFFLE_PARTITIONS = 8
SESSION_CONFS = {
    "spark.sql.shuffle.partitions": str(SHUFFLE_PARTITIONS),
    "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.inMemoryColumnarStorage.batchSize": "65536",
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.sql.streaming.numRecentProgressUpdates": "2000",
    "spark.driver.memory": "2g",
}
LOG_LEVEL = "ERROR"

# main()'s warm_cache call, including the events.props drop that
# scripts/bench_registry.py leaves out.
WARM_CACHE = {
    "n_partitions": 16,
    "partition_counts": {
        "region": 1,
        "nation": 1,
        "supplier": 1,
        "customer": 2,
        "part": 2,
        "events": 4,
    },
    "partition_keys": {
        "lineitem": "l_orderkey",
        "orders": "o_orderkey",
        "events": "user_id",
    },
    "drop_columns": {"events": ("props",)},
}

# headline_warm input: generated tables at fixture scale 0.01 (lineitem 60k
# rows), not bench.py's 0.1. A warm pass on the 0.1 fixture takes about twice
# as long as on the 0.01 one (README.md), so at 0.1 a run would hold too few
# passes, and set-up, repeated three times per run, would not fit.
HEADLINE_SF = 0.01
HEADLINE_EMBEDDINGS = 500
# Untimed passes before the timed ones. Pass time keeps falling over a
# process's first passes (4.1 s -> 3.0 s over six), and a run holds only
# about six timed passes, so without these the median would mostly say how
# far along that curve a run got.
HEADLINE_WARMUP_PASSES = 2

# live_lag: the reference source's rate, over its two keys, 1 s windows.
LIVE_ROWS_PER_SECOND = 20
LIVE_KEYS = 2
LIVE_TRIGGER_MS = 100
# The live session runs one source partition (the rate source takes
# spark.default.parallelism) and one state partition, where the batch layout
# has 4 and 8: every partition's task and state commit is paid on every
# micro-batch, whatever its 10 rows. It runs no watermark-only batches, so a
# window is sealed by the next data batch instead. With them, a data batch
# plus the watermark batch that seals its window had to fit the source's 1 s
# release cadence; on a shared 4-vCPU host batch time swung from ~300 to
# ~650 ms between runs, and past ~500 ms lag grew to 3-4 batch times, so
# lag swung far more than the engine did (README.md). Without them lag is
# one release cadence plus about one batch time.
LIVE_SESSION_CONFS = {
    "spark.default.parallelism": "1",
    "spark.sql.shuffle.partitions": "1",
    "spark.sql.streaming.noDataMicroBatches.enabled": "false",
}
# Windows sealed before this are warm-up: batch time falls from ~4 s for the
# first batch to its plateau about 15 s after start.
LIVE_SETTLE_S = 15.0

# Set-ups per run. The first launches the JVM (session.first_start_s) and
# runs on a cold JIT, taking 3-4x as long as the rest, so setup_s is the
# median of the others. live_lag's set-up is a bare session start (~0.1 s),
# so it takes more samples.
SETUP_CYCLES = {"live_lag": 9, "headline_warm": 3}
