#!/usr/bin/env python
"""Streaming soak with LIVE compaction (SCALE.md round-7 evidence).

Runs the continuously-maintained indexes — the BM25 retrieval index
(``streaming/retrieval_index.py``), the MinHash near-dup probe index,
the (r11) perceptual-hash IMAGE near-dup index (both in
``streaming/neardup_index.py``), and the (r11) CRAWL FRONTIER
(``streaming/frontier_index.py``: synthetic captures whose outlinks
point at the NEXT crawl page, so the discovered→captured frontier
shrink happens continuously) — from rate-source micro-batches for
``SPARK_GRAFT_SOAK_SECS`` (default 600 s), while a maintenance thread
fires ``compact_index`` + ``compact_neardup_index`` +
``compact_phash_index`` against the LIVE writers every
``SPARK_GRAFT_SOAK_COMPACT_SECS`` (default 45 s) — the
lock/replay-marker contract under real concurrency, not a unit test's
sequenced calls. The phash stream decodes REAL synthesized PNGs per
batch (Arrow image_phash) and probes through the SAME
``dedup.banded_chunks`` banding the batch operator uses.

Afterwards it asserts, and prints as ONE JSON line:

* **zero loss / zero duplication, BM25**: ranking over the accumulated
  (and repeatedly compacted) index is row-identical to the batch
  operator over the reconstructed corpus;
* **zero loss / zero duplication, near-dup**: the landed matches table
  EQUALS the one-pass batch twin (band-posting candidates restricted to
  cross-batch pairs, exact-Jaccard verified) — same pairs, same scores,
  no duplicate (doc_id, match_id) rows;
* **bounded directories**: post-soak file counts under every index
  table stay far below one-partition-per-batch growth, and checkpoint
  directories stay small (stateless foreachBatch pipelines).

Document text is a PURE COLUMN EXPRESSION of the doc id (18 words from
the id's group + 2 unique words → planted cross-batch near-dups with
shingle Jaccard 0.8), so the batch twins reconstruct the exact corpus
from ids alone — nothing depends on what the rate source happened to
batch where, except the recorded (doc_id, batch_id) membership the
near-dup twin needs, which the foreachBatch wrapper lands next to the
index.
"""

from __future__ import annotations

import json
import os
import tempfile
import threading
import time

from pyspark.sql import functions as F

from cdc_pipeline_spark.session import create_spark_session

SOAK_SECS = int(os.environ.get("SPARK_GRAFT_SOAK_SECS", "600"))
COMPACT_SECS = int(os.environ.get("SPARK_GRAFT_SOAK_COMPACT_SECS", "45"))
RATE = int(os.environ.get("SPARK_GRAFT_SOAK_RATE", "40"))  # docs/s per stream
TRIGGER = "5 seconds"
# doc_id % GROUPS shares 18 of 20 words → shingle J = 0.8; sized for
# ~8 docs per group over the soak's expected corpus, so planted
# near-dups recur across many distinct micro-batches
GROUPS = max(50, (RATE * SOAK_SECS) // 8)
VOCAB = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey xray"
).split()


def text_expr(idcol):
    """Deterministic 20-word text: 18 drawn from the id's GROUP hash
    (shared by every doc with the same ``id % GROUPS``), 2 from the id
    itself (unique tail) — reconstructible from the id alone."""
    vocab = F.array(*[F.lit(w) for w in VOCAB])
    group = F.pmod(idcol, F.lit(GROUPS))
    words = [
        F.element_at(
            vocab, (F.pmod(F.xxhash64(group, F.lit(i)), F.lit(len(VOCAB))) + 1).cast("int")
        )
        for i in range(18)
    ]
    words += [
        F.element_at(
            vocab,
            (F.pmod(F.xxhash64(idcol, F.lit(100 + i)), F.lit(len(VOCAB))) + 1).cast("int"),
        )
        for i in range(2)
    ]
    return F.concat_ws(" ", *words)


def docs_stream(spark):
    src = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(RATE))
        .option("numPartitions", "4")
        .load()
    )
    return src.select(F.col("value").alias("doc_id"), text_expr(F.col("value")).alias("text"))


def count_files(root: str) -> int:
    n = 0
    for dirpath, _, files in os.walk(root):
        if "_temporary" in dirpath or ".compact.tmp" in dirpath:
            continue  # uncommitted task output / in-flight fold staging
        n += sum(1 for f in files if not f.startswith(("_", ".")))
    return n


def dir_bytes(root: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def main() -> None:
    spark = create_spark_session(
        app_name="soak-streaming", shuffle_partitions=32
    )
    spark.sparkContext.setLogLevel("ERROR")

    from cdc_pipeline_spark.streaming.neardup_index import (
        NearDupIndexWriter,
        PhashNearDupIndexWriter,
        compact_neardup_index,
        compact_phash_index,
        read_matches,
        read_phash_matches,
    )
    from cdc_pipeline_spark.streaming.retrieval_index import (
        Bm25IndexWriter,
        bm25_topk_over_index,
        compact_index,
        read_index,
    )
    from cdc_pipeline_spark.streaming.rollup import (
        RollupTableWriter,
        compact_partials,
        read_rollup,
    )

    from cdc_pipeline_spark.streaming.frontier_index import (
        FrontierIndexWriter,
        compact_frontier_index,
        read_frontier,
    )

    base = tempfile.mkdtemp(prefix="soak-")
    bm25_path = os.path.join(base, "bm25")
    nd_path = os.path.join(base, "neardup")
    ph_path = os.path.join(base, "phash")
    rollup_path = os.path.join(base, "rollup")
    frontier_path = os.path.join(base, "frontier")
    member_path = os.path.join(base, "membership")
    pmember_path = os.path.join(base, "phash_membership")
    rmember_path = os.path.join(base, "rollup_membership")
    fmember_path = os.path.join(base, "frontier_membership")
    ck_bm25 = os.path.join(base, "ck_bm25")
    ck_nd = os.path.join(base, "ck_nd")
    ck_ph = os.path.join(base, "ck_phash")
    ck_ru = os.path.join(base, "ck_rollup")
    ck_fr = os.path.join(base, "ck_frontier")
    run_id = "soak-r7"

    bm25_writer = Bm25IndexWriter(bm25_path, run_id=run_id)
    nd_writer = NearDupIndexWriter(nd_path, run_id=run_id)
    ph_writer = PhashNearDupIndexWriter(ph_path, run_id=run_id)
    rollup_writer = RollupTableWriter(rollup_path, run_id=run_id)
    frontier_writer = FrontierIndexWriter(frontier_path, run_id=run_id)
    # per-replica group namespace (the scale harness's constant-density
    # construction): group size stays ~10 docs as the soak corpus
    # grows, so uncapped banded probes stay linear for the whole run
    PH_REPLICA_DIV = 970

    def bm25_batch(batch_df, batch_id):
        bm25_writer(batch_df, batch_id)

    def nd_batch(batch_df, batch_id):
        # membership parquet first: if we crash between the two writes,
        # the twin sees a batch with no matches partition — a replay
        # rewrites both (idempotent per-batch partition contract)
        (
            batch_df.select("doc_id")
            .withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("append")
            .parquet(member_path)
        )
        nd_writer(batch_df, batch_id)

    q_bm25 = (
        docs_stream(spark)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ck_bm25)
        .foreachBatch(bm25_batch)
        .trigger(processingTime=TRIGGER)
        .start()
    )
    q_nd = (
        docs_stream(spark)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ck_nd)
        .foreachBatch(nd_batch)
        .trigger(processingTime=TRIGGER)
        .start()
    )

    # fourth pipeline: the image near-dup index (VERDICT r10 #8).
    # Payloads synthesize per batch from the id via the SAME fixture
    # the batch query and scale harness use, so the teardown twin can
    # reconstruct the exact pixel stream from membership ids alone.
    def ph_batch(batch_df, batch_id):
        from cdc_pipeline_spark.workload import phash_fixture_payloads

        (
            batch_df.select("doc_id")
            .withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("append")
            .parquet(pmember_path)
        )
        ph_writer(
            phash_fixture_payloads(
                batch_df.select("doc_id"), replica_div=PH_REPLICA_DIV
            ),
            batch_id,
        )

    q_ph = (
        docs_stream(spark)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ck_ph)
        .foreachBatch(ph_batch)
        .trigger(processingTime=TRIGGER)
        .start()
    )

    # third pipeline: the continuous-aggregate rollup. ts/value are pure
    # functions of the row id, so the batch twin reconstructs the exact
    # event set from the recorded membership ids alone.
    def rollup_cols(df):
        return df.select(
            F.col("doc_id").alias("event_id"),
            (F.lit(1_700_000_000) + F.col("doc_id") * 7).cast("timestamp").alias("ts"),
            (F.pmod(F.xxhash64(F.col("doc_id")), F.lit(10_000)) / F.lit(100.0)).alias(
                "value"
            ),
        )

    def rollup_batch(batch_df, batch_id):
        (
            batch_df.select("doc_id")
            .withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("append")
            .parquet(rmember_path)
        )
        rollup_writer(rollup_cols(batch_df), batch_id)

    q_ru = (
        docs_stream(spark)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ck_ru)
        .foreachBatch(rollup_batch)
        .trigger(processingTime=TRIGGER)
        .start()
    )

    # fifth pipeline: the crawl frontier (r11). Every ingested id is a
    # synthetic capture whose columns are PURE FUNCTIONS of the id:
    # the page at https://s{id%7}.example/p{id} links to a group page
    # /n{id%GROUPS} on its own host (never captured — a persistent
    # frontier entry) and ABSOLUTELY to the NEXT crawl page
    # https://s{(id+1)%7}.example/p{id+1} — which a later batch
    # captures, exercising the discovered→captured frontier SHRINK
    # continuously; id%13==4 additionally 301s into the group
    # namespace, planting both-kinds URLs. The teardown twin rebuilds
    # the exact record set from membership ids alone.
    def capture_cols(df):
        i = F.col("doc_id")
        host = F.concat(
            F.lit("https://s"), F.pmod(i, F.lit(7)).cast("string"), F.lit(".example")
        )
        next_host = F.concat(
            F.lit("https://s"),
            F.pmod(i + 1, F.lit(7)).cast("string"),
            F.lit(".example"),
        )
        html = F.concat(
            F.lit('<a href="/n'),
            F.pmod(i, F.lit(GROUPS)).cast("string"),
            F.lit('">group</a><a href="'),
            next_host,
            F.lit("/p"),
            (i + 1).cast("string"),
            F.lit('">next</a>'),
        )
        return df.select(
            F.lit(True).alias("valid"),
            F.lit("response").alias("warc_type"),
            F.concat(host, F.lit("/p"), i.cast("string")).alias("target_uri"),
            F.encode(html, "utf-8").alias("http_payload"),
            F.when(
                F.pmod(i, F.lit(13)) == 4,
                F.concat(
                    host, F.lit("/n"), F.pmod(i * 3, F.lit(GROUPS)).cast("string")
                ),
            ).alias("http_location"),
        )

    def frontier_batch(batch_df, batch_id):
        (
            batch_df.select("doc_id")
            .withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("append")
            .parquet(fmember_path)
        )
        frontier_writer(capture_cols(batch_df), batch_id)

    q_fr = (
        docs_stream(spark)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ck_fr)
        .foreachBatch(frontier_batch)
        .trigger(processingTime=TRIGGER)
        .start()
    )

    stop = threading.Event()
    compactions = {"n": 0, "errors": []}

    def maintenance():
        while not stop.wait(COMPACT_SECS):
            try:
                compact_index(spark, bm25_path, run_id=run_id)
                compact_neardup_index(spark, nd_path, run_id=run_id)
                compact_phash_index(spark, ph_path, run_id=run_id)
                compact_partials(spark, rollup_path, run_id=run_id)
                compact_frontier_index(spark, frontier_path, run_id=run_id)
                compactions["n"] += 1
            except Exception as e:  # noqa: BLE001 — recorded, assert below
                compactions["errors"].append(f"{type(e).__name__}: {e}")

    mt = threading.Thread(target=maintenance, daemon=True)
    mt.start()
    time.sleep(SOAK_SECS)
    stop.set()
    mt.join(timeout=COMPACT_SECS + 60)

    def stop_when_idle(q, grace: float = 15.0):
        # stop() interrupts a mid-flight foreachBatch; waiting for an
        # idle trigger makes the interrupted-batch window rare (the
        # reconciliation below handles the residual race soundly)
        deadline = time.time() + grace
        while time.time() < deadline and q.status.get("isTriggerActive"):
            time.sleep(0.2)
        q.stop()

    stop_when_idle(q_bm25)
    stop_when_idle(q_nd)
    stop_when_idle(q_ph)
    stop_when_idle(q_ru)
    stop_when_idle(q_fr)
    q_bm25.awaitTermination(60)
    q_nd.awaitTermination(60)
    q_ph.awaitTermination(60)
    q_ru.awaitTermination(60)
    q_fr.awaitTermination(60)

    # --- teardown reconciliation. An abrupt stop mid-foreachBatch is
    # the writers' documented REPLAY scenario: on restart the batch
    # replays and completes. The soak ends instead of restarting, so at
    # most ONE batch per index (the last started) can be partial. A
    # batch is complete iff its LAST-written table has the batch
    # partition — or the index's own fold marker says it was already
    # folded (the same `replay_folded` source of truth the writers
    # consult). Partial leftovers are pruned exactly as a replay would
    # overwrite them, and the harness membership table drops the batch.
    import shutil as _shutil

    from cdc_pipeline_spark.streaming.state_table import replay_folded

    def _batch_complete(table_of_last_write: str, batch_id: int) -> bool:
        return os.path.isdir(
            os.path.join(table_of_last_write, f"batch_id={batch_id}")
        ) or replay_folded(table_of_last_write, run_id, batch_id)

    def _listed_batches(table: str) -> set[int]:
        try:
            return {
                int(d.split("=", 1)[1])
                for d in os.listdir(table)
                if d.startswith("batch_id=") and not d.endswith("=-1")
            }
        except FileNotFoundError:
            return set()

    partial_batches: dict[str, list[int]] = {"bm25": [], "neardup": []}
    # bm25: tf written before doclens — prune tf dirs with no doclens twin
    for b in sorted(_listed_batches(os.path.join(bm25_path, "tf"))):
        if not _batch_complete(os.path.join(bm25_path, "doclens"), b):
            _shutil.rmtree(os.path.join(bm25_path, "tf", f"batch_id={b}"))
            partial_batches["bm25"].append(b)
    # neardup: matches → shingles → postings; postings marks completion
    nd_started = _listed_batches(os.path.join(nd_path, "matches")) | _listed_batches(
        os.path.join(nd_path, "shingles")
    )
    for b in sorted(nd_started):
        if not _batch_complete(os.path.join(nd_path, "postings"), b):
            for sub in ("matches", "shingles"):
                d = os.path.join(nd_path, sub, f"batch_id={b}")
                if os.path.isdir(d):
                    _shutil.rmtree(d)
            partial_batches["neardup"].append(b)

    # phash: matches → hashes → postings; postings marks completion
    partial_batches["phash"] = []
    ph_started = _listed_batches(os.path.join(ph_path, "matches")) | _listed_batches(
        os.path.join(ph_path, "hashes")
    )
    for b in sorted(ph_started):
        if not _batch_complete(os.path.join(ph_path, "postings"), b):
            for sub in ("matches", "hashes"):
                d = os.path.join(ph_path, sub, f"batch_id={b}")
                if os.path.isdir(d):
                    _shutil.rmtree(d)
            partial_batches["phash"].append(b)
    # rollup: the partials table is its own completion marker (single
    # write per batch), so only a membership row with NO partials
    # partition can be partial
    partial_batches["rollup"] = []
    # frontier: like rollup, the partials table is the single write per
    # batch and therefore its own completion marker
    partial_batches["frontier"] = []
    # one final compaction so the bounded-size numbers describe the
    # steady maintained state, not whatever the last trigger left
    compact_index(spark, bm25_path, run_id=run_id)
    compact_neardup_index(spark, nd_path, run_id=run_id)
    compact_phash_index(spark, ph_path, run_id=run_id)
    compact_partials(spark, rollup_path, run_id=run_id)
    compact_frontier_index(spark, frontier_path, run_id=run_id)

    checks: dict = {"teardown_partial_batches": partial_batches}

    # --- BM25: index ranking == batch operator over reconstructed corpus
    from cdc_pipeline_spark.operators.retrieval import bm25_topk

    _, doclens = read_index(spark, bm25_path)
    ingested = doclens.select("doc_id").distinct().localCheckpoint(eager=True)
    n_docs_bm25 = ingested.count()
    corpus = ingested.select("doc_id", text_expr(F.col("doc_id")).alias("text"))
    queries = (
        (0, (VOCAB[0], VOCAB[3])),
        (1, (VOCAB[7],)),
        (2, (VOCAB[11], VOCAB[19], VOCAB[2])),
    )
    got = {
        (r.query_id, r.doc_id, r.score, r.rank)
        for r in bm25_topk_over_index(spark, bm25_path, queries, k=10).collect()
    }
    want = {
        (r.query_id, r.doc_id, r.score, r.rank)
        for r in bm25_topk(corpus, queries, k=10).collect()
    }
    checks["bm25_docs"] = n_docs_bm25
    checks["bm25_rows"] = len(got)
    checks["bm25_equal_batch_twin"] = bool(got and got == want)

    # --- near-dup: matches table == one-pass cross-batch twin
    from cdc_pipeline_spark.operators.dedup import (
        band_posting,
        minhash_signatures,
        round_half_up,
    )
    from cdc_pipeline_spark.operators.text import word_shingles

    member = spark.read.parquet(member_path)
    # harness membership lands BEFORE the index writer: drop batches the
    # writer never completed (same completeness rule as the pruning
    # above — postings partition present or fold marker says folded)
    member_batches = sorted(
        r.batch_id for r in member.select("batch_id").distinct().collect()
    )
    valid = [
        b
        for b in member_batches
        if _batch_complete(os.path.join(nd_path, "postings"), b)
    ]
    member = member.filter(F.col("batch_id").isin(valid)).localCheckpoint(eager=True)
    n_docs_nd = member.count()
    nd_corpus = member.select(
        "doc_id", "batch_id", text_expr(F.col("doc_id")).alias("text")
    ).localCheckpoint(eager=True)
    sig = minhash_signatures(nd_corpus, n=nd_writer.n, num_perm=nd_writer.num_perm)
    posting = band_posting(sig, nd_writer.num_perm, nd_writer.bands).join(
        member, "doc_id"
    )
    cand = (
        posting.select("band", "bucket", "doc_id", "batch_id")
        .join(
            posting.select(
                "band",
                "bucket",
                F.col("doc_id").alias("match_id"),
                F.col("batch_id").alias("match_batch"),
            ),
            ["band", "bucket"],
        )
        .filter(F.col("batch_id") > F.col("match_batch"))  # strictly-earlier history
        .select("doc_id", "match_id")
        .distinct()
    )
    sets_ = nd_corpus.select(
        "doc_id", word_shingles("text", nd_writer.n).alias("sh")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jacc = inter / (F.size("sh_a") + F.size("sh_b") - inter)
    twin = (
        cand.join(sets_.select("doc_id", F.col("sh").alias("sh_a")), "doc_id")
        .join(
            sets_.select(F.col("doc_id").alias("match_id"), F.col("sh").alias("sh_b")),
            "match_id",
        )
        .withColumn("jaccard", round_half_up(jacc, 6))
        .filter(F.col("jaccard") >= nd_writer.threshold)
        .select("doc_id", "match_id", "jaccard")
    )
    got_matches = [
        (r.doc_id, r.match_id, float(r.jaccard))
        for r in read_matches(spark, nd_path).select("doc_id", "match_id", "jaccard").collect()
    ]
    want_matches = {
        (r.doc_id, r.match_id, float(r.jaccard)) for r in twin.collect()
    }
    checks["neardup_docs"] = n_docs_nd
    checks["neardup_matches"] = len(got_matches)
    checks["neardup_no_duplicates"] = len(got_matches) == len(set(got_matches))
    checks["neardup_equal_batch_twin"] = bool(
        got_matches and set(got_matches) == want_matches
    )

    # --- image near-dup: matches table == one-pass cross-batch twin
    # (image_phash + shared banded_chunks over payloads reconstructed
    # from membership ids, restricted to strictly-earlier history)
    from cdc_pipeline_spark.operators.dedup import banded_chunks
    from cdc_pipeline_spark.operators.multimodal import image_phash
    from cdc_pipeline_spark.workload import phash_fixture_payloads

    pmember = spark.read.parquet(pmember_path)
    p_batches = sorted(
        r.batch_id for r in pmember.select("batch_id").distinct().collect()
    )
    p_valid = [
        b
        for b in p_batches
        if _batch_complete(os.path.join(ph_path, "postings"), b)
    ]
    pmember = pmember.filter(F.col("batch_id").isin(p_valid)).localCheckpoint(
        eager=True
    )
    n_docs_ph = pmember.count()
    ph_hashes = image_phash(
        phash_fixture_payloads(
            pmember.select("doc_id"), replica_div=PH_REPLICA_DIV
        )
    ).filter("decoded").join(pmember, "doc_id").localCheckpoint(eager=True)
    ph_banded = banded_chunks(ph_hashes, "ahash", ph_writer.bits, ph_writer.bands).join(
        pmember, "doc_id"
    )
    ph_cand = (
        ph_banded.select("band", "chunk", "doc_id", "batch_id")
        .join(
            ph_banded.select(
                "band",
                "chunk",
                F.col("doc_id").alias("match_id"),
                F.col("batch_id").alias("match_batch"),
            ),
            ["band", "chunk"],
        )
        .filter(F.col("batch_id") > F.col("match_batch"))
        .select("doc_id", "match_id")
        .distinct()
    )
    ph_ham = F.bit_count(F.col("__ha").bitwiseXOR(F.col("__hb")))
    ph_twin = (
        ph_cand.join(
            ph_hashes.select("doc_id", F.col("ahash").alias("__ha")), "doc_id"
        )
        .join(
            ph_hashes.select(
                F.col("doc_id").alias("match_id"), F.col("ahash").alias("__hb")
            ),
            "match_id",
        )
        .withColumn("hamming", ph_ham.cast("int"))
        .filter(F.col("hamming") <= ph_writer.max_hamming)
        .select("doc_id", "match_id", "hamming")
    )
    got_ph = [
        (r.doc_id, r.match_id, r.hamming)
        for r in read_phash_matches(spark, ph_path)
        .select("doc_id", "match_id", "hamming")
        .collect()
    ]
    want_ph = {(r.doc_id, r.match_id, r.hamming) for r in ph_twin.collect()}
    checks["phash_docs"] = n_docs_ph
    checks["phash_matches"] = len(got_ph)
    checks["phash_no_duplicates"] = len(got_ph) == len(set(got_ph))
    checks["phash_equal_batch_twin"] = bool(got_ph and set(got_ph) == want_ph)

    # --- rollup: merged partials == batch aggregation over the ids
    rmember = spark.read.parquet(rmember_path)
    r_batches = sorted(r.batch_id for r in rmember.select("batch_id").distinct().collect())
    r_valid = [b for b in r_batches if _batch_complete(rollup_path, b)]
    r_ids = rmember.filter(F.col("batch_id").isin(r_valid)).select("doc_id")
    twin_rollup = {
        (r.bucket_start, r.n_events, str(r.sum_value))
        for r in rollup_cols(r_ids)
        .groupBy(
            (F.floor(F.col("ts").cast("long") / 300) * 300)
            .cast("long")
            .alias("bucket_start")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").cast("decimal(28,2)").alias("sum_value"),
        )
        .collect()
    }
    got_rollup = {
        (r.bucket_start, r.n_events, str(r.sum_value))
        for r in read_rollup(spark, rollup_path, grain="5min").collect()
    }
    checks["rollup_buckets"] = len(got_rollup)
    checks["rollup_equal_batch_twin"] = bool(got_rollup and got_rollup == twin_rollup)
    checks["rollup_files"] = count_files(rollup_path)

    # --- frontier: re-folded partials == batch crawl_frontier over the
    # capture records reconstructed from membership ids
    from cdc_pipeline_spark.operators.weblinks import (
        capture_link_events,
        crawl_frontier,
    )

    fr_table = os.path.join(frontier_path, "partials")
    fmember = spark.read.parquet(fmember_path)
    f_batches = sorted(
        r.batch_id for r in fmember.select("batch_id").distinct().collect()
    )
    f_valid = [b for b in f_batches if _batch_complete(fr_table, b)]
    f_ids = (
        fmember.filter(F.col("batch_id").isin(f_valid))
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    n_docs_fr = f_ids.count()
    twin_frontier = {
        (r.url, r.link_kind, r.n_discoveries)
        for r in crawl_frontier(capture_link_events(capture_cols(f_ids))).collect()
    }
    got_frontier = {
        (r.url, r.link_kind, r.n_discoveries)
        for r in read_frontier(spark, frontier_path).collect()
    }
    checks["frontier_docs"] = n_docs_fr
    checks["frontier_rows"] = len(got_frontier)
    checks["frontier_both_kind_urls"] = len(
        {u for u, k, _ in got_frontier if k == "redirect"}
        & {u for u, k, _ in got_frontier if k == "outlink"}
    )
    checks["frontier_equal_batch_twin"] = bool(
        got_frontier and got_frontier == twin_frontier
    )
    checks["frontier_files"] = count_files(frontier_path)

    # --- bounded state: file counts and checkpoint sizes
    n_batches = max(
        int(p["batchId"]) for p in (q_bm25.recentProgress or [{"batchId": 0}])
    ) + 1
    files = {
        f"{os.path.basename(p)}/{sub}": count_files(os.path.join(p, sub))
        for p, subs in (
            (bm25_path, ("tf", "doclens")),
            (nd_path, ("postings", "shingles")),
            (ph_path, ("postings", "hashes")),
        )
        for sub in subs
    }
    checks["n_batches_observed"] = n_batches
    checks["index_files"] = files
    # steady state after compaction: ~1 folded partition per table (+ a
    # handful of per-batch stragglers landed after the final fold)
    checks["index_files_bounded"] = all(v <= 128 for v in files.values())
    checks["matches_files"] = count_files(os.path.join(nd_path, "matches"))
    checks["phash_matches_files"] = count_files(os.path.join(ph_path, "matches"))
    checks["checkpoint_mib"] = {
        "bm25": round(dir_bytes(ck_bm25) / 2**20, 2),
        "neardup": round(dir_bytes(ck_nd) / 2**20, 2),
        "phash": round(dir_bytes(ck_ph) / 2**20, 2),
        "rollup": round(dir_bytes(ck_ru) / 2**20, 2),
        "frontier": round(dir_bytes(ck_fr) / 2**20, 2),
    }
    checks["checkpoints_bounded"] = all(
        v < 64.0 for v in checks["checkpoint_mib"].values()
    )
    checks["compactions_fired"] = compactions["n"]
    checks["compaction_errors"] = compactions["errors"]

    ok = (
        checks["bm25_equal_batch_twin"]
        and checks["neardup_equal_batch_twin"]
        and checks["neardup_no_duplicates"]
        and checks["phash_equal_batch_twin"]
        and checks["phash_no_duplicates"]
        and checks["rollup_equal_batch_twin"]
        and checks["rollup_files"] <= 64
        and checks["frontier_equal_batch_twin"]
        and checks["frontier_files"] <= 64
        and checks["index_files_bounded"]
        and checks["checkpoints_bounded"]
        and compactions["n"] >= 3
        and not compactions["errors"]
    )
    print(
        json.dumps(
            {
                "metric": "streaming_soak",
                "soak_secs": SOAK_SECS,
                "compact_every_secs": COMPACT_SECS,
                "rate_docs_per_sec": RATE,
                "ok": ok,
                **checks,
            }
        )
    )
    spark.stop()
    raise SystemExit(0 if ok else 1)


if __name__ == "__main__":
    main()
