"""HTTP serving layer: REST snapshots + SSE over the kv contract.

Reference surface (SURVEY §2.11): 9 REST snapshot endpoints
(``/root/reference/src/api/routes/snapshots.py:21-63``), an SSE stream
re-fetching the snapshot for each pub/sub message
(``routes/events.py:17-20``, ``services/sse_manager.py:34-67``). Flask
here (the only web framework in the container); the routes and payloads
are framework-independent — SnapshotService does the shaping, this
module is wiring.

The WS endpoint (routes/ws.py: snapshot-on-connect + the same pub/sub
fan-out) lives in ``serving/ws.py`` — a stdlib RFC 6455 implementation,
since no WS framework ships in the container.
"""

from __future__ import annotations

import json
import queue as _queue

from cdc_pipeline_spark.serving.service import CHANNEL_TO_EVENT, CONTRACT, SnapshotService

SSE_KEEPALIVE_SECONDS = 25.0


def encode_event(event: str, payload) -> str:
    """SSE frame: ``event:`` + compact-JSON ``data:`` (sse_manager.py:70-73)."""
    return f"event: {event}\ndata: {json.dumps(payload, separators=(',', ':'))}\n\n"


def create_app(
    kv, generator_manager=None, spark=None, bm25_index_path=None, ann_index_path=None
):
    """``generator_manager`` (serving.generator_control.GeneratorManager)
    optionally attaches the reference's load-generator control routes
    (start/stop/status, routes/generator.py) to the same app.

    ``spark`` + ``bm25_index_path`` optionally attach the retrieval
    route ``GET /api/retrieval/search?q=<terms>&k=<n>`` serving ranked
    BM25 results from a streaming-maintained index directory
    (streaming/retrieval_index.py) — the retrieval surface gets the
    same REST parity the KPI snapshots have. Beyond the reference
    (it has no retrieval surface); part of the §2.12 mandate."""
    from flask import Flask, Response, jsonify

    app = Flask("cdc-pipeline-spark-serving")
    service = SnapshotService(kv)
    if generator_manager is not None:
        from cdc_pipeline_spark.serving.generator_control import register_routes

        register_routes(app, generator_manager)

    if spark is not None and bm25_index_path is not None:
        from flask import request

        from cdc_pipeline_spark.streaming.retrieval_index import bm25_topk_over_index

        @app.route("/api/retrieval/search")
        def retrieval_search():
            terms = tuple((request.args.get("q") or "").lower().split())
            if not terms:
                return jsonify({"error": "missing ?q=<terms>"}), 400
            try:
                k = max(1, min(int(request.args.get("k", 10)), 100))
            except ValueError:
                return jsonify({"error": "k must be an integer"}), 400
            ranked = bm25_topk_over_index(
                spark,
                bm25_index_path,
                queries=((0, terms),),
                k=k,
                # a served index is exactly the broad-path setting: the
                # df probe reads stored postings, and a user typing one
                # common word must not trigger a corpus-wide window sort
                broad_candidates=100_000,
            )
            rows = [
                {"doc_id": r.doc_id, "score": r.score, "rank": r.rank}
                for r in sorted(ranked.collect(), key=lambda r: r.rank)
            ]
            return jsonify({"query": " ".join(terms), "k": k, "results": rows})

    if spark is not None and ann_index_path is not None:
        from flask import request as _request

        from cdc_pipeline_spark.operators.ann_index import (
            ivf_index_topk,
            read_ivf_index,
        )

        @app.route("/api/retrieval/ann")
        def retrieval_ann():
            # ?vec=<comma-floats> ranks directly (zero lookup scans);
            # ?like=<vec_id> is the query-by-example convenience — it
            # pays ONE column-pruned lookup scan of vectors/ (vec_id is
            # not the partition key, so it cannot prune; a production
            # server would keep an id→vector side table or cache)
            like = _request.args.get("like")
            vec_arg = _request.args.get("vec")
            if like is None and vec_arg is None:
                return jsonify({"error": "missing ?like=<vec_id> or ?vec=<floats>"}), 400
            try:
                k = max(1, min(int(_request.args.get("k", 5)), 100))
                n_probe = max(1, min(int(_request.args.get("n_probe", 1)), 64))
                vec_id = int(like) if like is not None else -1
                qvec = (
                    [float(x) for x in vec_arg.split(",")] if vec_arg is not None else None
                )
            except ValueError:
                return jsonify({"error": "like/k/n_probe must be integers; vec must be comma-separated floats"}), 400
            try:
                if qvec is None:
                    vectors, _cents = read_ivf_index(spark, ann_index_path)
                    row = vectors.filter(vectors.vec_id == vec_id).select("embedding").head(1)
                    if not row or row[0].embedding is None:
                        return jsonify({"error": f"vec_id {vec_id} not in index"}), 404
                    qvec = [float(x) for x in row[0].embedding]
                ranked = ivf_index_topk(
                    spark,
                    ann_index_path,
                    queries=[(vec_id, qvec)],
                    k=k,
                    n_probe=n_probe,
                )
            except ValueError as exc:  # read_ivf_index: no index built yet
                return jsonify({"error": str(exc)}), 404
            rows = [
                {"vec_id": r.vec_id, "score": r.score, "rank": r.rank}
                for r in sorted(ranked.collect(), key=lambda r: r.rank)
            ]
            return jsonify({"like": vec_id, "k": k, "n_probe": n_probe, "results": rows})

    for event, (route, _key, _channel, _cap) in CONTRACT.items():
        app.add_url_rule(
            f"/api/snapshots/{route}", f"snapshot_{event}", lambda ev=event: jsonify(service.fetch(ev))
        )

    @app.route("/api/events")
    def events() -> Response:
        def stream():
            sub = kv.subscribe(*CHANNEL_TO_EVENT)
            try:
                while True:
                    try:
                        channel, _payload = sub.get(timeout=SSE_KEEPALIVE_SECONDS)
                    except _queue.Empty:
                        yield ": keep-alive\n\n"
                        continue
                    event = CHANNEL_TO_EVENT.get(channel)
                    if event is None:
                        continue
                    # re-fetch the authoritative snapshot rather than
                    # trusting the published payload (reference behavior,
                    # sse_manager.py:44-53 — the snapshot may have been
                    # shaped/merged since the publish)
                    yield encode_event(event, service.fetch(event))
            finally:
                kv.unsubscribe(sub)

        return Response(stream(), mimetype="text/event-stream")

    @app.route("/api/health")
    def health():
        return jsonify({"status": "ok"})

    @app.route("/api/monitor/streams")
    def monitor_streams():
        # per-pipeline throughput/state metrics written by
        # streaming.monitor.KvProgressListener (the reference's monitor
        # page surface, routes/monitor.py, served from kv instead of WS)
        from cdc_pipeline_spark.streaming.monitor import read_stream_metrics

        return jsonify(read_stream_metrics(kv))

    return app
