#!/usr/bin/env python
"""Z-order pruning effectiveness measurement (VERDICT r7 #6).

Writes the sf0.1 events table twice — naturally ordered (by ts, the
arrival order a streaming sink would produce) and Z-ordered over
(user_id, value) via ``layout.zorder_sort`` — as 32 parquet files each,
then evaluates a 2-column range predicate three ways:

1. **File-level skippability** from the parquet FOOTERS (pyarrow):
   a file whose [min, max] span misses the predicate range on EITHER
   column is pruned by row-group statistics without decoding a single
   row (these files cost one footer read — at 100 TB, with file-level
   stats in the table manifest, not even that). This is the
   "files-read" number the round-7 verdict asked for.
2. **Scan-decoded rows** from Spark's FileSourceScan metrics
   (``number of output rows`` on the scan node = rows the parquet
   reader actually materialized after row-group/page pruning).
3. **Wall time** of the filtered aggregate on each layout (noise-prone
   on this host; the row/file counts are the load-bearing evidence).

Prints ONE JSON line; asserts the Z-ordered layout skips >50% of files
for the benchmark predicate while the natural layout skips ~0% on the
non-sort column.

Run: ``python bench_zorder.py`` (~1 min on 32 cores); the master is the
factory default, ``local[$SPARK_GRAFT_CPUS]``, else every core of the host.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import tempfile
import time

from pyspark.sql import functions as F

from cdc_pipeline_spark.session import create_spark_session
from cdc_pipeline_spark.sources.files import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_FILES = 32

# ~10% selectivity per column; jointly ~1% of rows but a contiguous
# Z-curve neighborhood, so the Z-layout confines it to few files.
USER_LO, USER_HI = 700, 849
VAL_LO, VAL_HI = 200.0, 260.0


def file_stats(path: str, columns: list[str]) -> list[dict]:
    """Per-file [min, max] spans for ``columns`` from parquet footers."""
    import pyarrow.parquet as pq

    out = []
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        md = pq.ParquetFile(f).metadata
        spans = {c: [None, None] for c in columns}
        for rg in range(md.num_row_groups):
            grp = md.row_group(rg)
            for ci in range(grp.num_columns):
                col = grp.column(ci)
                name = col.path_in_schema
                if name in spans and col.statistics is not None:
                    st = col.statistics
                    lo, hi = spans[name]
                    spans[name][0] = st.min if lo is None else min(lo, st.min)
                    spans[name][1] = st.max if hi is None else max(hi, st.max)
        out.append({"file": os.path.basename(f), **{c: spans[c] for c in columns}})
    return out


def skippable(stats: list[dict]) -> int:
    """Files the predicate provably cannot touch (row-group stats prune)."""
    n = 0
    for s in stats:
        ulo, uhi = s["user_id"]
        vlo, vhi = s["value"]
        if uhi < USER_LO or ulo > USER_HI or vhi < VAL_LO or vlo > VAL_HI:
            n += 1
    return n


def scan_metrics(df) -> dict:
    """numFiles + scan-node output rows from the executed plan (the
    scan is a leaf even under AQE/WholeStageCodegen wrapping)."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    leaves = plan.collectLeaves()
    for i in range(leaves.size()):
        node = leaves.apply(i)
        if "scan" not in node.nodeName().lower():
            continue
        metrics = node.metrics()
        out = {}
        it = metrics.iterator()
        while it.hasNext():
            kv = it.next()
            out[str(kv._1())] = kv._2().value()
        return {
            "files_read": out.get("numFiles"),
            "scan_output_rows": out.get("numOutputRows"),
        }
    return {}


def main() -> None:
    spark = create_spark_session(
        app_name="bench-zorder", shuffle_partitions=32
    )
    spark.sparkContext.setLogLevel("ERROR")
    # AQE's plan wrapper hides the scan node's metrics from the Py4J
    # walk; this is a single-stage measurement query, so turn it off
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    from cdc_pipeline_spark.operators.layout import zorder_sort

    events = load_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    tmp = tempfile.mkdtemp(prefix="zorder_bench_")
    result: dict = {"metric": "zorder_pruning", "sf_dir": SF_DIR, "n_files": N_FILES}
    try:
        nat_path = os.path.join(tmp, "natural")
        z_path = os.path.join(tmp, "zorder")
        # natural = arrival order (ts), range-partitioned like a
        # time-ordered sink would lay it down
        events.repartitionByRange(N_FILES, "ts").sortWithinPartitions("ts").write.mode(
            "overwrite"
        ).parquet(nat_path)
        zorder_sort(events, ["user_id", "value"], num_partitions=N_FILES).write.mode(
            "overwrite"
        ).parquet(z_path)

        for tag, path in (("natural", nat_path), ("zorder", z_path)):
            stats = file_stats(path, ["user_id", "value"])
            n_files = len(stats)
            n_skip = skippable(stats)
            q = (
                spark.read.parquet(path)
                .filter(
                    (F.col("user_id").between(USER_LO, USER_HI))
                    & (F.col("value").between(VAL_LO, VAL_HI))
                )
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("value").alias("sum_value"),
                )
            )
            t0 = time.perf_counter()
            m = scan_metrics(q)
            wall = round(time.perf_counter() - t0, 3)
            result[tag] = {
                "files_written": n_files,
                "files_stat_skippable": n_skip,
                "skipped_file_fraction": round(n_skip / n_files, 3),
                "wall_sec": wall,
                **m,
            }
            print(f"# {tag}: {result[tag]}", flush=True)
        z_frac = result["zorder"]["skipped_file_fraction"]
        nat_frac = result["natural"]["skipped_file_fraction"]
        result["zorder_pruning_ok"] = z_frac > 0.5 and z_frac > nat_frac
        print(json.dumps(result))
        raise SystemExit(0 if result["zorder_pruning_ok"] else 1)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
