"""Webhook sinks: Discord / Slack payload shaping + foreachBatch fan-out.

The reference POSTs one webhook per event, sequentially, no retry
(at-most-once; app.rb:229-234,258-262).  Here payload shaping is a pure
projection (so it runs distributed) and delivery is a ``foreachBatch``
that fans out each micro-batch to every destination — checkpointed, so
the pipeline upgrades to at-least-once with idempotent keys
(raft_index, task_identifier, event_type, event_time_ns).

Delivery is injectable: the default "transport" appends to a parquet
directory (the test/dev stand-in); ``http_transport`` POSTs each event
from the driver, in order, over one keep-alive connection per
destination and batch (stdlib ``http.client``).
"""

from __future__ import annotations

import http.client
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


def _discord_color() -> Column:
    return (
        F.when(F.col("state") == "failure", F.lit(DISCORD_COLOR_FAILURE))
        .when(F.col("state") == "success", F.lit(DISCORD_COLOR_SUCCESS))
        .otherwise(F.lit(None).cast("int"))
    )


def _slack_color() -> Column:
    return (
        F.when(F.col("state") == "failure", F.lit(SLACK_COLOR_FAILURE))
        .when(F.col("state") == "success", F.lit(SLACK_COLOR_SUCCESS))
        .otherwise(F.lit(None).cast("string"))
    )


def _description() -> Column:
    """Markdown body: **subject** + display message + details JSON
    (app.rb:181-189)."""
    return F.concat_ws(
        "\n",
        F.concat(F.lit("**"), F.col("subject"), F.lit("**")),
        F.col("display_message"),
        F.col("details_json"),
    )


def discord_payload(classified: DataFrame) -> DataFrame:
    """POST body per event: {content, embeds: [{description, color}]}
    (app.rb:213-237)."""
    return classified.select(
        "raft_index",
        "task_identifier",
        "event_type",
        "event_time_ns",
        F.to_json(
            F.struct(
                F.col("subject").alias("content"),
                F.array(
                    F.struct(
                        _description().alias("description"),
                        _discord_color().alias("color"),
                    )
                ).alias("embeds"),
            )
        ).alias("payload"),
    )


def slack_payload(classified: DataFrame) -> DataFrame:
    """POST body per event: {attachments: [{mrkdwn_in, text, pretext,
    color}]} with the '**' -> '*' bold rewrite (app.rb:239-265)."""
    slack_text = F.regexp_replace(_description(), r"\*\*", "*")
    return classified.select(
        "raft_index",
        "task_identifier",
        "event_type",
        "event_time_ns",
        F.to_json(
            F.struct(
                F.array(
                    F.struct(
                        F.array(F.lit("text"), F.lit("pretext")).alias("mrkdwn_in"),
                        slack_text.alias("text"),
                        F.col("subject").alias("pretext"),
                        _slack_color().alias("color"),
                    )
                ).alias("attachments"),
            )
        ).alias("payload"),
    )


def parquet_transport(dest_dir: str) -> Callable[[DataFrame, str], None]:
    """Default delivery: append payloads to a parquet dir per destination
    (stand-in for the HTTP POST; swap for a requests-based sender in
    production)."""

    def send(payloads: DataFrame, destination: str) -> None:
        payloads.withColumn("destination", F.lit(destination)).write.mode(
            "append"
        ).parquet(f"{dest_dir}/{destination}")

    return send


def http_transport(
    urls: dict[str, str], timeout: float = 10.0
) -> Callable[[DataFrame, str], None]:
    """Real HTTP delivery matching the reference's webhook semantics
    (app.rb:229-234,258-262): one POST per event, JSON body, no
    application-level retry — a failed POST raises and fails the batch.

    Delivery runs on the driver, sequentially per destination: ``send``
    collects the payload column and POSTs the rows in order over one
    ``http.client`` connection (keep-alive reuse on HTTP/1.1 servers,
    transparent reopen on HTTP/1.0), so no Python worker task starts.
    The caller (``_deliver_once``) has hash-partitioned the batch by
    ``task_identifier`` and sorted each partition by (raft_index,
    event_time_ns); ``collect()`` returns the partitions in order, so
    per-task event order matches the reference's sequential loop.

    Not parallel, on purpose: Discord and Slack rate-limit each webhook
    URL to a few POSTs per second, so concurrent senders to one URL buy
    nothing.  The same rate bounds driver memory: a batch large enough
    to strain the driver would take days to POST.  ``collect()`` runs
    one job; ``toLocalIterator`` would run one per partition.

    Delivery guarantee: no Spark task POSTs, so a task retry cannot
    re-POST; but a ``foreachBatch`` replay after a failure re-POSTs the
    whole batch, and a stale keep-alive reconnect can resend one
    in-flight request — at-least-once per row.  Receivers must be
    idempotent, or compose with ``effectively_once`` (its ledger skips
    redelivered batches).  (The reference itself is fire-and-forget.)"""

    def send(payloads: DataFrame, destination: str) -> None:
        url = urls[destination]
        rows = payloads.select("payload").collect()
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
            for row in rows:
                body = row["payload"].encode("utf-8")
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

    return send


_SHAPERS: dict[str, Callable[[DataFrame], DataFrame]] = {
    "discord": discord_payload,
    "slack": slack_payload,
}


def _deliver_once(
    batch: DataFrame,
    destinations: tuple[str, ...],
    deliver: Callable[[DataFrame, str], None],
) -> None:
    """Compute the micro-batch once and hand each destination its payload.

    The batch is hash-partitioned by ``task_identifier`` into one
    partition per core, sorted by (raft_index, event_time_ns) within each
    partition, and cached.  Every destination's payload is a projection
    of that cached frame, so the stateful plan behind ``batch`` (scan,
    dedup, state-store commits) runs once per micro-batch instead of once
    per destination, and per-task order survives the projection."""
    frame = (
        batch.repartition(
            batch.sparkSession.sparkContext.defaultParallelism, "task_identifier"
        )
        .sortWithinPartitions("raft_index", "event_time_ns")
        .persist()
    )
    try:
        for dest in destinations:
            deliver(_SHAPERS[dest](frame), dest)
    finally:
        frame.unpersist()


def webhook_foreach_batch(
    transport: Callable[[DataFrame, str], None],
    destinations: tuple[str, ...] = ("discord", "slack"),
) -> Callable[[DataFrame, int], None]:
    """foreachBatch body: shape + deliver each micro-batch to every
    destination (app.rb:211,236,264 fan-out), preserving per-key order
    within a batch.

    The batch is computed and cached once (``_deliver_once``), then each
    destination's payload projection goes to ``transport``; with
    ``http_transport`` that is a driver-side collect and sequential
    POSTs, so a micro-batch starts no Python worker task."""

    def process(batch: DataFrame, batch_id: int) -> None:
        _deliver_once(batch, destinations, transport)

    return process


def batch_overwrite_transport(dest_dir: str) -> Callable[[DataFrame, str, int], None]:
    """Replay-safe delivery: each micro-batch lands in its own
    ``batch_id=<n>`` directory with overwrite semantics, so redelivering
    a batch (recovery replay) rewrites the same files instead of
    appending duplicates — idempotent per (destination, batch_id)."""

    def send(payloads: DataFrame, destination: str, batch_id: int) -> None:
        payloads.withColumn("destination", F.lit(destination)).write.mode(
            "overwrite"
        ).parquet(f"{dest_dir}/{destination}/batch_id={batch_id}")

    return send


def effectively_once(
    process: Callable[[DataFrame, int], None], ledger_dir: str
) -> Callable[[DataFrame, int], None]:
    """Upgrade an at-least-once ``foreachBatch`` body to effectively-once
    delivery: a per-batch ledger marker (written AFTER the body
    completes) short-circuits replayed batch ids on recovery.

    The marker write is not atomic with delivery, so the body must be
    idempotent per batch id for the composition to be exactly-once —
    pair with ``batch_overwrite_transport`` (same-path overwrite) or an
    HTTP receiver that dedupes on (batch_id, event key).  This exceeds
    the reference's delivery contract (at-most-once, fire-and-forget
    POST, app.rb:229-234,258-262).  ``foreachBatch`` runs on the driver;
    in a cluster deployment the ledger dir lives on shared storage
    (object store / DBFS), exactly like the checkpoint dir."""
    import os

    os.makedirs(ledger_dir, exist_ok=True)

    def wrapped(batch: DataFrame, batch_id: int) -> None:
        marker = os.path.join(ledger_dir, f"batch-{batch_id}.done")
        if os.path.exists(marker):
            return
        process(batch, batch_id)
        with open(marker, "w", encoding="utf-8") as fh:
            fh.write("ok")

    return wrapped


def webhook_foreach_batch_v2(
    transport: Callable[[DataFrame, str, int], None],
    destinations: tuple[str, ...] = ("discord", "slack"),
) -> Callable[[DataFrame, int], None]:
    """Like ``webhook_foreach_batch`` but the transport also receives the
    batch id, enabling per-batch idempotent delivery paths."""

    def process(batch: DataFrame, batch_id: int) -> None:
        _deliver_once(
            batch,
            destinations,
            lambda payloads, dest: transport(payloads, dest, batch_id),
        )

    return process
