"""Real HTTP webhook delivery (app.rb:229-234,258-262): POST bodies that
arrive at a live local server must be byte-identical to the oracled
payload projections, for both Discord and Slack shapes."""

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
    start_webhook_query_v2,
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
            r["payload"].encode() for r in discord_payload(batch).collect()
        }
        want_slack = {
            r["payload"].encode() for r in slack_payload(batch).collect()
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
            [("a", '{"k": 1}')], "task_identifier string, payload string"
        )
        transport = http_transport({"discord": url})
        import pytest as _pytest

        with _pytest.raises(Exception):
            transport(df, "discord")
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
            [("a", '{"k": 1}')], "task_identifier string, payload string"
        ).coalesce(1)
        transport = http_transport({"discord": url})
        import pytest as _pytest

        with _pytest.raises(Exception):
            transport(df, "discord")
        # exactly one request hit the wire: no hidden duplicate resend
        assert len(hits) == 1
    finally:
        srv.shutdown()


def test_http_delivery_on_driver_in_order_over_one_connection(
    tmp_path, spark, monkeypatch
):
    """``http_transport`` POSTs from the driver: each destination's share
    of a micro-batch travels over one keep-alive connection, every task's
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
    base = http_transport(
        {d: f"http://127.0.0.1:{srv.server_port}/{d}" for d in ("discord", "slack")}
    )
    calls: list[tuple[str, list]] = []  # (destination, requests it made)

    def transport(payloads, destination):
        with lock:
            start = len(received)
        base(payloads, destination)
        with lock:
            calls.append((destination, received[start:]))

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
    key_of: dict[str, dict[bytes, tuple]] = {}
    for dest, shape in (("discord", discord_payload), ("slack", slack_payload)):
        rows = shape(batch).collect()
        key_of[dest] = {
            r["payload"].encode(): (r["task_identifier"], r["raft_index"], r["event_time_ns"])
            for r in rows
        }
        assert len(key_of[dest]) == len(rows) > 0  # a body names its event

    delivering = [(dest, served) for dest, served in calls if served]
    assert {dest for dest, _ in delivering} == {"discord", "slack"}
    # one connection per destination and batch, reused for every POST
    assert len(connections) == len(delivering)
    assert driver_requests == len(received)
    ordered_runs = 0
    for dest, served in delivering:
        assert len({conn for conn, _, _ in served}) == 1
        assert {path for _, path, _ in served} == {f"/{dest}"}
        per_task: dict[str, list] = {}
        for _, _, body in served:
            task, raft, ns = key_of[dest][body]
            per_task.setdefault(task, []).append((raft, ns))
        for seq in per_task.values():
            assert seq == sorted(seq)
            ordered_runs += len(seq) > 1
    assert ordered_runs > 0
    for dest, keys in key_of.items():
        assert sorted(b for _, p, b in received if p == f"/{dest}") == sorted(keys)


def test_batch_computed_once_and_delivered_per_core(tmp_path, spark):
    """Each micro-batch runs its stateful plan once, however many
    destinations it feeds, and each destination gets the batch in one
    partition per core with every task's events in (raft_index,
    event_time_ns) order.  Shuffle partitions are set apart from the
    core count: the state is one partition per core too, so a second
    computation of the batch would read twice the core count."""
    input_dir = tmp_path / "in"
    input_dir.mkdir()
    (input_dir / "a.ndjson").write_text("\n".join(sample_stream(6)) + "\n")
    cores = spark.sparkContext.defaultParallelism
    shuffle = 3
    assert cores != shuffle

    recorded: dict[str, list] = {}

    def record(payloads, destination):
        # one (partition index, keys in delivery order) item per partition
        recorded.setdefault(destination, []).append(
            payloads.rdd.mapPartitionsWithIndex(
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
        )

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

    assert set(recorded) == {"discord", "slack"}
    assert _state_widths(q) == {cores}

    delivered = 0
    ordered_runs = 0
    for calls in recorded.values():
        for parts in calls:
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
    """Both starters give a new checkpoint one dedup state partition per
    core and hand the caller's shuffle width back once ``start()``
    returns; a checkpoint created at another width restarts at that
    width, and its state still drops envelopes replayed from before the
    restart."""
    key = "spark.sql.shuffle.partitions"
    cores = spark.sparkContext.defaultParallelism
    shuffle = 3
    assert cores != shuffle
    lines = sample_stream(6)
    input_dir = tmp_path / "in"
    input_dir.mkdir()
    (input_dir / "a.ndjson").write_text("\n".join(lines) + "\n")
    delivered: list[int] = []

    def record(payloads, destination):
        delivered.append(payloads.count())

    def stream():
        return build_stream(read_ndjson_stream(spark, str(input_dir)))

    before = spark.conf.get(key)
    spark.conf.set(key, str(shuffle))
    try:
        starters = {
            "v1": lambda ckpt: start_webhook_query(
                stream(), ckpt, str(tmp_path / "out1"), transport=record
            ),
            "v2": lambda ckpt: start_webhook_query_v2(
                stream(), ckpt, str(tmp_path / "out2"), str(tmp_path / "ledger")
            ),
        }
        for name, start in starters.items():
            q = start(str(tmp_path / f"ckpt_{name}"))
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
