"""Webhook sinks: Discord / Slack payload shaping + foreachBatch fan-out.

The reference POSTs one webhook per event, sequentially, no retry
(at-most-once; app.rb:229-234,258-262).  Here payload shaping is a pure
column expression (so it runs distributed) and delivery is a
``foreachBatch`` that hands each micro-batch to the transport as one
frame with one payload column per destination.  There is one delivery
guarantee, effectively-once per batch id: the checkpointed offsets
replay a failed batch, and ``effectively_once``'s ledger, kept inside
the checkpoint, skips a replayed batch that was already delivered while
still running it so its state commits.

Delivery is injectable, and every transport is called as
``(frame, batch_id)``: ``batch_overwrite_transport`` writes one parquet
directory per batch (the test/dev stand-in); ``http_transport`` collects
the frame once and POSTs each event from the driver, in order, over one
keep-alive connection per destination and batch (stdlib ``http.client``).
"""

from __future__ import annotations

import http.client
import os
from collections.abc import Callable
from urllib.parse import urlsplit

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

# Discord embed colors (app.rb:215-221): decimal red/green.
DISCORD_COLOR_FAILURE = 15158332
DISCORD_COLOR_SUCCESS = 3066993
# Slack attachment colors (app.rb:243-249): hex strings.
SLACK_COLOR_FAILURE = "#e74c3c"
SLACK_COLOR_SUCCESS = "#2ecc71"


def discord_color() -> Column:
    """Embed color of the ``state`` column (app.rb:215-221)."""
    return (
        F.when(F.col("state") == "failure", F.lit(DISCORD_COLOR_FAILURE))
        .when(F.col("state") == "success", F.lit(DISCORD_COLOR_SUCCESS))
        .otherwise(F.lit(None).cast("int"))
    )


def slack_color() -> Column:
    """Attachment color of the ``state`` column (app.rb:243-249)."""
    return (
        F.when(F.col("state") == "failure", F.lit(SLACK_COLOR_FAILURE))
        .when(F.col("state") == "success", F.lit(SLACK_COLOR_SUCCESS))
        .otherwise(F.lit(None).cast("string"))
    )


def slack_bold(markdown: Column) -> Column:
    """Slack's bold rewrite of a markdown body: '**' -> '*' (app.rb:245)."""
    return F.regexp_replace(markdown, r"\*\*", "*")


def _description() -> Column:
    """Markdown body: **subject** + display message + details JSON
    (app.rb:181-189)."""
    return F.concat_ws(
        "\n",
        F.concat(F.lit("**"), F.col("subject"), F.lit("**")),
        F.col("display_message"),
        F.col("details_json"),
    )


def discord_payload() -> Column:
    """POST body per event: {content, embeds: [{description, color}]}
    (app.rb:213-237)."""
    return F.to_json(
        F.struct(
            F.col("subject").alias("content"),
            F.array(
                F.struct(
                    _description().alias("description"),
                    discord_color().alias("color"),
                )
            ).alias("embeds"),
        )
    )


def slack_payload() -> Column:
    """POST body per event: {attachments: [{mrkdwn_in, text, pretext,
    color}]} with the '**' -> '*' bold rewrite (app.rb:239-265)."""
    return F.to_json(
        F.struct(
            F.array(
                F.struct(
                    F.array(F.lit("text"), F.lit("pretext")).alias("mrkdwn_in"),
                    slack_bold(_description()).alias("text"),
                    F.col("subject").alias("pretext"),
                    slack_color().alias("color"),
                )
            ).alias("attachments"),
        )
    )


def batch_overwrite_transport(dest_dir: str) -> Callable[[DataFrame, int], None]:
    """File delivery (the test/dev stand-in for the HTTP POST): each
    micro-batch's frame lands in ``<dest_dir>/batch_id=<n>/``, one column
    per destination.  The directory is overwritten, not appended to, so a
    replayed batch rewrites its own files instead of adding duplicates."""

    def send(frame: DataFrame, batch_id: int) -> None:
        frame.write.mode("overwrite").parquet(f"{dest_dir}/batch_id={batch_id}")

    return send


def http_transport(
    urls: dict[str, str], timeout: float = 10.0
) -> Callable[[DataFrame, int], None]:
    """Real HTTP delivery matching the reference's webhook semantics
    (app.rb:229-234,258-262): one POST per event, JSON body, no
    application-level retry — a failed POST raises and fails the batch.

    ``urls`` maps a destination (a payload column of the frame) to its
    webhook URL, and only those destinations are POSTed.  Delivery runs
    on the driver: ``send`` collects the destinations' columns in one
    job, then POSTs each destination's rows in order, destination after
    destination in ``urls`` order, over one ``http.client`` connection
    per destination (keep-alive reuse on HTTP/1.1 servers, transparent
    reopen on HTTP/1.0), so no Python worker task starts.  The frame
    ``webhook_foreach_batch`` builds is hash-partitioned by
    ``task_identifier`` and sorted within each partition by (raft_index,
    event_time_ns); ``collect()`` returns the partitions in order, so
    per-task event order matches the reference's sequential loop.

    Not parallel, on purpose: Discord and Slack rate-limit each webhook
    URL to a few POSTs per second, so concurrent senders to one URL buy
    nothing.  The same rate bounds driver memory: a batch large enough
    to strain the driver would take days to POST.  ``collect()`` runs
    one job; ``toLocalIterator`` would run one per partition.

    Delivery guarantee: no Spark task POSTs, so a task retry cannot
    re-POST, and ``effectively_once`` skips a replayed batch that was
    already delivered.  Two windows remain in which a row is POSTed
    twice: a crash after the POSTs but before the ledger record, and a
    stale keep-alive reconnect that resends one in-flight request.
    Receivers that must never see a duplicate dedupe on the event key.
    (The reference itself is fire-and-forget.)"""

    def post(url: str, bodies: list[str]) -> None:
        parts = urlsplit(url)
        conn_cls = (
            http.client.HTTPSConnection
            if parts.scheme == "https"
            else http.client.HTTPConnection
        )
        path = parts.path or "/"
        if parts.query:
            path = f"{path}?{parts.query}"

        def connect():
            return conn_cls(parts.hostname, parts.port, timeout=timeout)

        conn = connect()
        reused = False  # has this connection already served a request?
        try:
            for payload in bodies:
                body = payload.encode("utf-8")
                headers = {"Content-Type": "application/json"}
                # Narrowed retry.  Two retryable cases only:
                #   (a) the SEND itself failed — the server cannot have
                #       processed a complete request, so resending is
                #       duplicate-free;
                #   (b) RemoteDisconnected on a REUSED keep-alive
                #       connection — the classic idle-close race where
                #       the server shut the socket before reading (the
                #       same case urllib3 retries); this is the one
                #       documented possible-duplicate window.
                # A response failure on a FRESH connection raises for
                # real: that is a server actively rejecting the request,
                # which the old blanket retry used to mask.
                try:
                    conn.request("POST", path, body=body, headers=headers)
                    sent = True
                except (http.client.HTTPException, ConnectionError, BrokenPipeError):
                    sent = False  # case (a): safe resend below
                if sent:
                    try:
                        resp = conn.getresponse()
                    except (http.client.RemoteDisconnected, ConnectionResetError):
                        if not reused:
                            raise  # fresh connection: a real rejection
                        sent = False  # case (b): idle-close race
                if not sent:
                    conn.close()
                    conn = connect()
                    conn.request("POST", path, body=body, headers=headers)
                    resp = conn.getresponse()
                resp.read()
                if resp.status >= 400:
                    raise RuntimeError(
                        f"webhook POST to {url} failed: HTTP {resp.status}"
                    )
                if resp.will_close:
                    # HTTP/1.0 server (or Connection: close): the socket
                    # is dead; reopen proactively for the next row.
                    conn.close()
                    conn = connect()
                    reused = False
                else:
                    reused = True
        finally:
            conn.close()

    def send(frame: DataFrame, batch_id: int) -> None:
        rows = frame.select(*urls).collect()
        for destination, url in urls.items():
            post(url, [row[destination] for row in rows])

    return send


def webhook_foreach_batch(
    transport: Callable[[DataFrame, int], None],
) -> Callable[[DataFrame, int], None]:
    """foreachBatch body: shape each micro-batch for every destination
    (app.rb:211,236,264 fan-out) and hand it to ``transport`` as one
    frame, preserving per-key order within a batch.

    The frame is hash-partitioned by ``task_identifier`` into one
    partition per core and sorted by (raft_index, event_time_ns) within
    each partition; it holds the event key columns plus one payload
    column per destination (``discord``, ``slack``).  One transport call
    reads it, so the stateful plan behind ``batch`` (scan, dedup,
    state-store commits) runs once per micro-batch; with
    ``http_transport`` that is one Spark job and a driver-side collect,
    so a micro-batch starts no Python worker task."""

    def process(batch: DataFrame, batch_id: int) -> None:
        frame = (
            batch.repartition(
                batch.sparkSession.sparkContext.defaultParallelism, "task_identifier"
            )
            .sortWithinPartitions("raft_index", "event_time_ns")
            .select(
                "raft_index",
                "task_identifier",
                "event_type",
                "event_time_ns",
                discord_payload().alias("discord"),
                slack_payload().alias("slack"),
            )
        )
        transport(frame, batch_id)

    return process


def effectively_once(
    process: Callable[[DataFrame, int], None], ledger: str
) -> Callable[[DataFrame, int], None]:
    """Wrap a ``foreachBatch`` body so a batch id is delivered once: the
    ``ledger`` directory holds one record, the highest batch id whose
    ``process`` returned, and a replay of any batch id at or below it
    (checkpoint recovery after a crash between delivery and Spark's
    commit) skips delivery.  Batch ids only grow, so one record is the
    whole ledger; it is rewritten through a temp file and
    ``os.replace``, so a crash mid-write leaves the old record whole.

    The skip still runs the batch, into the ``noop`` sink: a batch over
    stateful operators must be consumed for their state to commit, and
    a body that returns without reading it fails the query with
    ``STATE_STORE_COMMIT_VALIDATION_FAILED`` (Spark 4.1).

    The record is not written atomically with delivery, so a crash
    between the two redelivers the batch: ``batch_overwrite_transport``
    rewrites the same files; an HTTP receiver sees the batch twice.
    ``start_webhook_query`` keeps the ledger inside the checkpoint, so
    a new checkpoint never meets a stale ledger.  ``foreachBatch`` runs
    on the driver; in a cluster deployment the checkpoint, and so the
    ledger, lives on shared storage."""
    os.makedirs(ledger, exist_ok=True)
    record = os.path.join(ledger, "last")

    def wrapped(batch: DataFrame, batch_id: int) -> None:
        try:
            with open(record, encoding="utf-8") as fh:
                delivered = int(fh.read())
        except FileNotFoundError:
            delivered = -1
        if batch_id <= delivered:
            batch.write.format("noop").mode("overwrite").save()
            return
        process(batch, batch_id)
        with open(record + ".tmp", "w", encoding="utf-8") as fh:
            fh.write(str(batch_id))
        os.replace(record + ".tmp", record)

    return wrapped
