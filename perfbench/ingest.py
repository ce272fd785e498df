"""`ingest`: the reference ETL loop.

The generator lands seeded listing batches one at a time as JSON-lines
files in the API shape (nested mileage, junk years, missing prices,
about 30% re-listed ids). Each batch runs
``streaming.ingest.stream_ingest_listings`` with the same checkpoint
into one unpartitioned table; the table is then read back through
``flatten.clean_listings`` plus a group-by, as the dashboard would. A
traced run then lands further batches in a second, traced region.
"""

from __future__ import annotations

import os

import gen

ROWS_PER_BATCH = 500
WARMUP_BATCHES = 3
AS_OF_YEAR = 2025


def _dir_size(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def run(ctx) -> dict:
    from pyspark.sql import functions as F

    from etl_mudah_spark.operators.flatten import clean_listings
    from etl_mudah_spark.streaming.ingest import stream_ingest_listings

    import oracle

    drop, table, ckpt = ctx.path("drop"), ctx.path("table"), ctx.path("checkpoint")
    landing = ctx.path("landing")
    for d in (drop, landing):
        os.makedirs(d)
    batches = gen.listing_batches(ctx.seed, rows=ROWS_PER_BATCH)
    landed: list[list[dict]] = []
    json_bytes = {True: 0, False: 0}  # by whether the batch was traced
    readbacks = []  # (pdf, number of batches landed when read)

    def land(batch: list[dict], traced: bool) -> str:
        tmp = os.path.join(landing, f"b{len(landed):05d}.json")
        with open(tmp, "w") as fh:
            json_bytes[traced] += fh.write(gen.batch_jsonl(batch))
        landed.append(batch)
        return tmp

    def read_back():
        return (
            clean_listings(ctx.spark.read.parquet(table), as_of_year=AS_OF_YEAR)
            .groupBy("make")
            .agg(
                F.count("*").alias("listings"),
                F.avg(F.col("price").cast("double")).alias("avg_price"),
                F.avg("age").alias("avg_age"),
                F.avg("mileage_avg").alias("avg_mileage"),
            )
        )

    def unit(run) -> tuple[float, float, float, float]:
        """Land one batch, make it visible, read the table back. Returns
        wall and CPU seconds of the batch and of the read."""
        tmp = land(next(batches), run.tracing)
        final = os.path.join(drop, os.path.basename(tmp))

        def trigger(_):
            os.rename(tmp, final)  # the batch lands atomically
            stream_ingest_listings(ctx.spark, drop, table, ckpt)

        first = len(run.probe.stream.progress) if run.tracing else 0
        _, batch_s, batch_cpu = run.op(f"batch{len(landed)}", lambda: None, trigger, kind="trigger")
        if run.tracing:
            run.stream_progress(first)
        pdf, read_s, read_cpu = run.op(f"read{len(landed)}", read_back, lambda df: df.toPandas())
        if pdf is not None:
            readbacks.append((pdf, len(landed)))
        return batch_s, batch_cpu, read_s, read_cpu

    def loop(finished) -> dict:
        done = []  # (batch s, batch CPU s, read s, read CPU s) per correct unit
        units = 0
        while True:
            failed0 = ctx.run.failed
            times = unit(ctx.run)
            units += 1
            if ctx.run.failed == failed0:
                done.append(times)
            if finished():
                break
        ops, ops_cpu, reads, reads_cpu = (list(col) for col in zip(*done))
        return {
            "ops": ops,
            "ops_cpu": ops_cpu,
            "reads": reads,
            "reads_cpu": reads_cpu,
            "rows": ROWS_PER_BATCH * len(done),
            "samples": done,
            "stamp": {"batches": units, "rows_per_batch": ROWS_PER_BATCH},
        }

    ctx.start_session()
    for _ in range(WARMUP_BATCHES):
        unit(ctx.run)
    ctx.setup_done()
    res = ctx.region(loop)
    if ctx.traced:
        res["traced"] = ctx.region(loop, traced=True)

    # Correctness: every read-back, then the final table state.
    states, state = [], {}
    for batch in landed:
        state = gen.advance(state, batch)
        states.append(state)
    for pdf, n in readbacks:
        if not oracle.readback_matches(pdf, oracle.expected_readback(states[n - 1], AS_OF_YEAR)):
            ctx.run.fail(f"read after batch {n}: differs from the last-write-wins expectation")
    if not oracle.table_matches(ctx.spark.read.parquet(table).toPandas(), states[-1]):
        ctx.run.fail("final table differs from the last-write-wins expectation")

    files, size = _dir_size(table)
    L = ctx.run.layer
    L["merge.table_files"] = files
    L["merge.table_bytes"] = size
    L["merge.space_bytes_per_row"] = size / max(1, len(states[-1]))
    if json_bytes[True]:
        L["merge.write_amp"] = L["_merge.stage_output_bytes"] / json_bytes[True]
    res["stamp"]["live_rows"] = len(states[-1])
    return res
