"""Real HTTP webhook delivery (app.rb:229-234,258-262): POST bodies that
arrive at a live local server must be byte-identical to the oracled
payload columns, for both Discord and Slack shapes, and each
micro-batch reaches the transport as one frame in one call."""

import http.client
import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from nomad_event_streamer_spark.sources.synthetic import sample_stream
from nomad_event_streamer_spark.streaming.pipeline import task_event_pipeline
from nomad_event_streamer_spark.streaming.runner import (
    build_stream,
    read_ndjson_stream,
    start_webhook_query,
)
from nomad_event_streamer_spark.streaming.sinks import (
    discord_payload,
    http_transport,
    slack_payload,
    webhook_foreach_batch,
)


class _Recorder(BaseHTTPRequestHandler):
    received: list[tuple[str, bytes]] = []
    lock = threading.Lock()

    def do_POST(self):  # noqa: N802 (http.server API)
        body = self.rfile.read(int(self.headers["Content-Length"]))
        with _Recorder.lock:
            _Recorder.received.append((self.path, body))
        self.send_response(204)
        self.end_headers()

    def log_message(self, *args):
        pass


def _serve() -> tuple[ThreadingHTTPServer, str]:
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Recorder)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, f"http://127.0.0.1:{srv.server_port}"


def _state_widths(query) -> set[int]:
    return {
        p["stateOperators"][0]["numStateStoreInstances"]
        for p in query.recentProgress
        if p["stateOperators"]
    }


def test_http_post_bodies_match_payload_projection(tmp_path, spark):
    _Recorder.received = []
    srv, base = _serve()
    try:
        input_dir = tmp_path / "in"
        input_dir.mkdir()
        (input_dir / "a.ndjson").write_text(
            "\n".join(sample_stream(6)) + "\n"
        )
        classified = build_stream(read_ndjson_stream(spark, str(input_dir)))
        transport = http_transport(
            {"discord": f"{base}/discord", "slack": f"{base}/slack"}
        )
        q = (
            classified.writeStream.foreachBatch(
                webhook_foreach_batch(transport)
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        # oracle: the same lines through the pure batch payload
        # projections (no duplicates in the fixture, so skipping the
        # streaming dedup is value-neutral)
        batch = task_event_pipeline(spark.read.text(str(input_dir)))
        want_discord = {
            r[0].encode() for r in batch.select(discord_payload()).collect()
        }
        want_slack = {
            r[0].encode() for r in batch.select(slack_payload()).collect()
        }
        got_discord = {b for p, b in _Recorder.received if p == "/discord"}
        got_slack = {b for p, b in _Recorder.received if p == "/slack"}

        assert want_discord, "no events made it through the pipeline"
        assert got_discord == want_discord
        assert got_slack == want_slack
        # every delivered body is valid JSON of the right shape
        assert all("embeds" in json.loads(b) for b in got_discord)
        assert all("attachments" in json.loads(b) for b in got_slack)
    finally:
        srv.shutdown()


def test_http_failure_raises_and_fails_batch(tmp_path, spark):
    """No-retry semantics: a non-2xx response must surface as an error
    (the reference is fire-and-forget; we fail loud so checkpoint replay
    + effectively_once can take over)."""

    class _Refuser(BaseHTTPRequestHandler):
        def do_POST(self):  # noqa: N802
            self.rfile.read(int(self.headers["Content-Length"] or 0))
            self.send_response(500)
            self.end_headers()

        def log_message(self, *args):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Refuser)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{srv.server_port}/hook"
        df = spark.createDataFrame(
            [("a", '{"k": 1}')], "task_identifier string, discord string"
        )
        transport = http_transport({"discord": url})
        import pytest as _pytest

        with _pytest.raises(Exception):
            transport(df, 0)
    finally:
        srv.shutdown()


def test_http_fresh_connection_close_raises_not_retries(tmp_path, spark):
    """Narrowed retry (ADVICE r03): a server that closes the socket
    without responding to a FRESH connection's first request is actively
    rejecting it — the transport must raise, not mask it with a resend
    (the old blanket retry re-POSTed once before failing, doubling
    delivery on servers that process-then-close)."""
    import socketserver

    hits = []

    class _Slammer(socketserver.BaseRequestHandler):
        def handle(self):
            self.request.recv(65536)  # read the request...
            hits.append(1)
            self.request.close()  # ...and slam the connection shut

    srv = socketserver.ThreadingTCPServer(("127.0.0.1", 0), _Slammer)
    srv.daemon_threads = True
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}/hook"
        df = spark.createDataFrame(
            [("a", '{"k": 1}')], "task_identifier string, discord string"
        ).coalesce(1)
        transport = http_transport({"discord": url})
        import pytest as _pytest

        with _pytest.raises(Exception):
            transport(df, 0)
        # exactly one request hit the wire: no hidden duplicate resend
        assert len(hits) == 1
    finally:
        srv.shutdown()


def test_http_delivery_on_driver_in_order_over_one_connection(
    tmp_path, spark, monkeypatch
):
    """``http_transport`` POSTs from the driver: each destination's share
    of a micro-batch travels over one keep-alive connection, the
    destinations follow each other in ``urls`` order, every task's
    bodies arrive in (raft_index, event_time_ns) order, and every request
    is made in this process (a POST from a Python worker process would
    not pass through the wrapped ``request``)."""
    lock = threading.Lock()
    connections: list[int] = []  # one item per accepted TCP connection
    received: list[tuple[int, str, bytes]] = []  # (connection, path, body)

    class _KeepAlive(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def setup(self):
            super().setup()
            with lock:
                self.conn_id = len(connections)
                connections.append(self.conn_id)

        def do_POST(self):  # noqa: N802
            body = self.rfile.read(int(self.headers["Content-Length"]))
            with lock:
                received.append((self.conn_id, self.path, body))
            self.send_response(204)
            self.send_header("Content-Length", "0")
            self.end_headers()

        def log_message(self, *args):
            pass

    driver_requests = 0
    request = http.client.HTTPConnection.request

    def counting_request(self, *args, **kwargs):
        nonlocal driver_requests
        driver_requests += 1
        return request(self, *args, **kwargs)

    monkeypatch.setattr(http.client.HTTPConnection, "request", counting_request)

    srv = ThreadingHTTPServer(("127.0.0.1", 0), _KeepAlive)
    srv.daemon_threads = True
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    order = ["/slack", "/discord"]  # not the frame's column order
    base = http_transport(
        {p[1:]: f"http://127.0.0.1:{srv.server_port}{p}" for p in order}
    )
    calls: list[tuple[int, list]] = []  # (batch id, requests it made)

    def transport(frame, batch_id):
        with lock:
            start = len(received)
        base(frame, batch_id)
        with lock:
            calls.append((batch_id, received[start:]))

    input_dir = tmp_path / "in"
    input_dir.mkdir()
    (input_dir / "a.ndjson").write_text("\n".join(sample_stream(6)) + "\n")
    try:
        q = start_webhook_query(
            build_stream(read_ndjson_stream(spark, str(input_dir))),
            str(tmp_path / "ckpt"),
            str(tmp_path / "out"),
            transport=transport,
        )
        q.awaitTermination(120)
        assert q.exception() is None
    finally:
        srv.shutdown()
        srv.server_close()

    batch = task_event_pipeline(spark.read.text(str(input_dir)))
    rows = batch.select(
        "task_identifier",
        "raft_index",
        "event_time_ns",
        discord_payload().alias("discord"),
        slack_payload().alias("slack"),
    ).collect()
    key_of: dict[str, dict[bytes, tuple]] = {}
    for dest in ("discord", "slack"):
        key_of[f"/{dest}"] = {
            r[dest].encode(): (r["task_identifier"], r["raft_index"], r["event_time_ns"])
            for r in rows
        }
        assert len(key_of[f"/{dest}"]) == len(rows) > 0  # a body names its event

    delivering = [served for _, served in calls if served]
    assert {path for served in delivering for _, path, _ in served} == set(order)
    assert len({batch_id for batch_id, _ in calls}) == len(calls)  # one call a batch
    # one connection per destination and batch, reused for every POST
    assert len(connections) == sum(
        len({path for _, path, _ in served}) for served in delivering
    )
    assert driver_requests == len(received)
    ordered_runs = 0
    for served in delivering:
        paths = [path for _, path, _ in served]
        assert paths == sorted(paths, key=order.index)  # destination by destination
        for dest in set(paths):
            mine = [(conn, body) for conn, path, body in served if path == dest]
            assert len({conn for conn, _ in mine}) == 1
            per_task: dict[str, list] = {}
            for _, body in mine:
                task, raft, ns = key_of[dest][body]
                per_task.setdefault(task, []).append((raft, ns))
            for seq in per_task.values():
                assert seq == sorted(seq)
                ordered_runs += len(seq) > 1
    assert ordered_runs > 0
    for dest, keys in key_of.items():
        assert sorted(b for _, p, b in received if p == dest) == sorted(keys)


def test_discord_only_transport_delivers_each_event_once(tmp_path, spark):
    """A deployment with a Discord webhook only: the transport POSTs the
    destinations it has URLs for, so every batch succeeds, every POST
    goes to Discord and each event arrives once (a batch that failed
    after its POSTs would re-POST them on each checkpoint replay)."""
    received: list[tuple[str, bytes]] = []

    class _Record(BaseHTTPRequestHandler):
        def do_POST(self):  # noqa: N802
            received.append((self.path, self.rfile.read(int(self.headers["Content-Length"]))))
            self.send_response(204)
            self.end_headers()

        def log_message(self, *args):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Record)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    input_dir = tmp_path / "in"
    input_dir.mkdir()
    (input_dir / "a.ndjson").write_text("\n".join(sample_stream(6)) + "\n")
    try:
        q = start_webhook_query(
            build_stream(read_ndjson_stream(spark, str(input_dir))),
            str(tmp_path / "ckpt"),
            str(tmp_path / "out"),
            transport=http_transport({"discord": f"http://127.0.0.1:{srv.server_port}/discord"}),
        )
        q.awaitTermination(120)
        assert q.exception() is None
    finally:
        srv.shutdown()
        srv.server_close()

    batch = task_event_pipeline(spark.read.text(str(input_dir)))
    want = sorted(r[0].encode() for r in batch.select(discord_payload()).collect())
    assert want
    assert {path for path, _ in received} == {"/discord"}
    assert sorted(body for _, body in received) == want


def test_one_spark_job_per_delivered_batch(tmp_path, spark):
    """Each micro-batch reaches ``http_transport`` as one frame, so the
    query's run-id job group holds one Spark job per batch: the
    collect that computes the batch (scan, dedup, state commit) and
    yields every destination's payloads.  A cached batch read once per
    destination shows two."""
    srv, base = _serve()
    input_dir = tmp_path / "in"
    input_dir.mkdir()
    (input_dir / "a.ndjson").write_text("\n".join(sample_stream(6)) + "\n")
    _Recorder.received = []
    try:
        q = start_webhook_query(
            build_stream(read_ndjson_stream(spark, str(input_dir))),
            str(tmp_path / "ckpt"),
            str(tmp_path / "out"),
            transport=http_transport({d: f"{base}/{d}" for d in ("discord", "slack")}),
        )
        q.awaitTermination(120)
        assert q.exception() is None
    finally:
        srv.shutdown()
        srv.server_close()

    batches = {p["batchId"] for p in q.recentProgress}
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    assert _Recorder.received and batches
    assert len(jobs) == len(batches), (len(jobs), sorted(batches))


def test_batch_computed_once_and_delivered_per_core(tmp_path, spark):
    """Each micro-batch runs its stateful plan once and reaches the
    transport as one frame, in one call, with a payload column per
    destination, in one partition per core and with every task's events
    in (raft_index, event_time_ns) order.  Shuffle partitions are set
    apart from the core count: the state is one partition per core too,
    so a second computation of the batch would read twice the core
    count."""
    input_dir = tmp_path / "in"
    input_dir.mkdir()
    (input_dir / "a.ndjson").write_text("\n".join(sample_stream(6)) + "\n")
    cores = spark.sparkContext.defaultParallelism
    shuffle = 3
    assert cores != shuffle

    recorded: list[tuple[int, list, list]] = []  # (batch id, columns, parts)

    def record(frame, batch_id):
        # one (partition index, keys in delivery order) item per partition
        parts = frame.rdd.mapPartitionsWithIndex(
            lambda i, rows: [
                (
                    i,
                    [
                        (r["task_identifier"], r["raft_index"], r["event_time_ns"])
                        for r in rows
                    ],
                )
            ]
        ).collect()
        recorded.append((batch_id, frame.columns, parts))

    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle))
    try:
        q = start_webhook_query(
            build_stream(read_ndjson_stream(spark, str(input_dir))),
            str(tmp_path / "ckpt"),
            str(tmp_path / "out"),
            transport=record,
        )
        q.awaitTermination(120)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)

    assert len({batch_id for batch_id, _, _ in recorded}) == len(recorded) > 0
    assert _state_widths(q) == {cores}

    delivered = 0
    ordered_runs = 0
    for _, columns, parts in recorded:
        assert columns == [
            "raft_index",
            "task_identifier",
            "event_type",
            "event_time_ns",
            "discord",
            "slack",
        ]
        assert len(parts) == cores
        home: dict[str, int] = {}
        for i, keys in parts:
            per_task: dict[str, list] = {}
            for task, raft, ns in keys:
                assert home.setdefault(task, i) == i  # one partition per task
                per_task.setdefault(task, []).append((raft, ns))
            for seq in per_task.values():
                assert seq == sorted(seq)
                ordered_runs += len(seq) > 1
            delivered += len(keys)
    assert delivered > 0 and ordered_runs > 0


def test_state_width_per_core_on_new_checkpoints_only(tmp_path, spark):
    """The starter, with a caller's transport or its own file transport,
    gives a new checkpoint one dedup state partition per core and hands
    the caller's shuffle width back once ``start()`` returns; a
    checkpoint created at another width restarts at that width, and its
    state still drops envelopes replayed from before the restart."""
    key = "spark.sql.shuffle.partitions"
    cores = spark.sparkContext.defaultParallelism
    shuffle = 3
    assert cores != shuffle
    lines = sample_stream(6)
    input_dir = tmp_path / "in"
    input_dir.mkdir()
    (input_dir / "a.ndjson").write_text("\n".join(lines) + "\n")
    delivered: list[int] = []

    def record(frame, batch_id):
        delivered.append(frame.count())

    def stream():
        return build_stream(read_ndjson_stream(spark, str(input_dir)))

    before = spark.conf.get(key)
    spark.conf.set(key, str(shuffle))
    try:
        transports = {"record": record, "files": None}
        for name, transport in transports.items():
            q = start_webhook_query(
                stream(),
                str(tmp_path / f"ckpt_{name}"),
                str(tmp_path / f"out_{name}"),
                transport=transport,
            )
            assert spark.conf.get(key) == str(shuffle)
            q.awaitTermination(120)
            assert q.exception() is None
            assert _state_widths(q) == {cores}, name

        # a checkpoint created by a plain writeStream at the session width
        delivered.clear()
        ckpt = str(tmp_path / "ckpt_plain")
        q = (
            stream()
            .writeStream.foreachBatch(webhook_foreach_batch(record))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert _state_widths(q) == {shuffle}
        assert sum(delivered) > 0

        delivered.clear()
        (input_dir / "b.ndjson").write_text("\n".join(lines[:3]) + "\n")
        q = start_webhook_query(stream(), ckpt, str(tmp_path / "out3"), transport=record)
        assert spark.conf.get(key) == str(shuffle)
        q.awaitTermination(120)
        assert q.exception() is None
        assert _state_widths(q) == {shuffle}
        assert sum(p["numInputRows"] for p in q.recentProgress) > 0
        assert sum(delivered) == 0
    finally:
        spark.conf.set(key, before)
