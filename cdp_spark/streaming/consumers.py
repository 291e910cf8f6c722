"""Broker input consumers: amqp / mqtt / redis -> event stream.

Consumer-side framing, declaration, and ack mapping mirror the
reference inputs:

- amqp (src/input/amqp.ts:181-343): assert exchange (same "cdp"/topic
  defaults as the send-amqp sink), assert queue with the reference's
  queue options (durable default true, auto-delete default false,
  message-ttl / expires / dead-letter-exchange / max-length /
  max-priority accepting string or native values), bind with
  ``binding-pattern`` defaulting by exchange type
  (direct->"cdp", fanout->"", topic->"#"), then consume: a delivered
  message is forwarded and acked only when the pipeline is accepting
  (amqp.ts:286-297); while saturated, deliveries stay unacked and a
  ``basic_recover(requeue=True)`` is issued once pressure clears
  (amqp.ts:299-310).
- mqtt (src/input/mqtt.ts:109-213): subscribe to ``topic`` (default
  ``cdp/#``); under pressure delivery handling is DELAYED, never
  dropped (mqtt.ts:144-151's handleMessage gate).
- redis (src/input/redis.ts:130-237): exactly one of subscribe /
  psubscribe / blpop / brpop; pub/sub modes forward callback messages,
  list modes poll with a 5-second timeout (POP_TIMEOUT, redis.ts:103)
  and skip the pop entirely for one timeout period while saturated.

Spark-first shape: consumers are driver-side threads feeding the same
atomically-renamed NDJSON spool the HTTP input uses; the pipeline
reads the spool with Spark's file stream (exactly-once offsets,
distributed parsing, committed files deleted).  One message body ==
one spool file, so a multi-line NDJSON body becomes an event vector
exactly as the reference parses it (amqp.ts:299-320) — the same
body-splitting contract ``message_bodies_to_events`` applies on the
Kafka bridge.

All clients are injectable (tests use fakes; deployments wire real
pika / paho-mqtt / redis clients through
:func:`set_consumer_client_factory`), matching io/brokers.py's
publisher seam.  The real-client factory is import-gated since no
broker client library ships in this environment.
"""

from __future__ import annotations

import os
import threading
import time
import uuid
from typing import Any, Callable, Optional

from pyspark.sql import DataFrame, SparkSession

from ..events import WrapDirective
from ..io.brokers import DEFAULT_EXCHANGE_NAME, DEFAULT_EXCHANGE_TYPE
from .sources import stream_ndjson_files

POP_TIMEOUT = 5  # seconds, src/input/redis.ts:103
DEFAULT_MQTT_TOPIC = "cdp/#"  # src/input/mqtt.ts:97
_DEFAULT_BINDING = {"direct": "cdp", "fanout": "", "topic": "#"}  # amqp.ts:279-283


def _int_opt(v: Any) -> int:
    return int(v) if isinstance(v, str) else v


def _bool_opt(v: Any, default: bool) -> bool:
    if v is None:
        return default
    return (v == "true") if isinstance(v, str) else bool(v)


# ---------------------------------------------------------------------------
# Spool (shared with the HTTP input's file-stream bridge)


class MessageSpool:
    """One message body -> one atomically-renamed NDJSON file; the
    backlog gate is the consumer-side backpressure signal (the analog
    of src/backpressure.ts's queue saturation).  Sequence numbers are
    taken under a lock because writers run concurrently (the HTTP
    server handles POSTs on a thread each).  The backlog counts files
    awaiting pickup, a pending-work gauge only because the consuming
    stream runs with ``cleanSource=delete``."""

    def __init__(self, spool_dir: str, max_backlog_files: int = 1024):
        os.makedirs(spool_dir, exist_ok=True)
        self.spool_dir = spool_dir
        self.max_backlog_files = max_backlog_files
        self.received = 0
        self._seq_lock = threading.Lock()

    def backlog(self) -> int:
        return sum(1 for n in os.listdir(self.spool_dir) if not n.startswith("."))

    def accepting(self) -> bool:
        return self.backlog() < self.max_backlog_files

    def write(self, body: str | bytes) -> None:
        data = body.encode() if isinstance(body, str) else bytes(body)
        if data and not data.endswith(b"\n"):
            data += b"\n"
        with self._seq_lock:
            seq = self.received
            self.received += 1
        name = f"{seq:012d}-{uuid.uuid4().hex}.ndjson"
        tmp = os.path.join(self.spool_dir, "." + name + ".tmp")
        with open(tmp, "wb") as f:
            f.write(data)
        os.rename(tmp, os.path.join(self.spool_dir, name))


# ---------------------------------------------------------------------------
# Pure option mapping (testable without any client)


def amqp_queue_declaration(options: dict) -> tuple[str, dict, dict]:
    """(queue name, declare kwargs, x-arguments) from the reference's
    queue options (amqp.ts:231-278).  Name defaults to "" (a
    server-generated exclusive queue)."""
    q = options.get("queue") or {}
    declare = {
        "durable": _bool_opt(q.get("durable"), True),
        "auto_delete": _bool_opt(q.get("auto-delete"), False),
    }
    args: dict[str, Any] = {}
    if q.get("message-ttl") is not None:
        args["x-message-ttl"] = _int_opt(q["message-ttl"])
    if q.get("expires") is not None:
        args["x-expires"] = _int_opt(q["expires"])
    if q.get("dead-letter-exchange") is not None:
        args["x-dead-letter-exchange"] = q["dead-letter-exchange"]
    if q.get("max-length") is not None:
        args["x-max-length"] = _int_opt(q["max-length"])
    if q.get("max-priority") is not None:
        args["x-max-priority"] = _int_opt(q["max-priority"])
    return q.get("name", ""), declare, args


def amqp_binding_pattern(options: dict) -> str:
    """binding-pattern with the reference's per-exchange-type default
    (amqp.ts:279-283)."""
    pattern = options.get("binding-pattern")
    if pattern is not None:
        return pattern
    ex_type = (options.get("exchange") or {}).get("type", DEFAULT_EXCHANGE_TYPE)
    return _DEFAULT_BINDING.get(ex_type, "#")


def redis_mode(options: dict) -> tuple[str, list[str]]:
    """Exactly one of subscribe/psubscribe/blpop/brpop; values
    normalize to string lists (redis.ts:110-117 toargs)."""
    modes = [m for m in ("subscribe", "psubscribe", "blpop", "brpop") if m in options]
    if len(modes) != 1:
        raise ValueError(
            f"redis input needs exactly one of subscribe/psubscribe/blpop/brpop, got {modes or 'none'}"
        )
    v = options[modes[0]]
    return modes[0], (v if isinstance(v, list) else [v])


# ---------------------------------------------------------------------------
# Consumers


class AmqpConsumer:
    """``client`` needs exchange_declare / queue_declare / queue_bind /
    basic_consume(queue, on_message_callback) -> tag / basic_ack /
    basic_recover(requeue) / basic_cancel / close.  The callback is
    invoked as ``on_message_callback(delivery_tag, body: bytes)``."""

    def __init__(self, client: Any, options: dict, spool: MessageSpool):
        self.client = client
        self.spool = spool
        self._needs_recover = False
        self._lock = threading.Lock()
        ex = options.get("exchange") or {}
        self.exchange = ex.get("name", DEFAULT_EXCHANGE_NAME)
        ex_type = ex.get("type", DEFAULT_EXCHANGE_TYPE)
        client.exchange_declare(
            exchange=self.exchange,
            exchange_type=ex_type,
            durable=_bool_opt(ex.get("durable"), True),
            auto_delete=_bool_opt(ex.get("auto-delete"), False),
        )
        name, declare, args = amqp_queue_declaration(options)
        self.queue = client.queue_declare(queue=name, arguments=args, **declare)
        client.queue_bind(
            queue=self.queue, exchange=self.exchange,
            routing_key=amqp_binding_pattern(options),
        )
        self._tag = client.basic_consume(
            queue=self.queue, on_message_callback=self._on_message
        )

    def _on_message(self, delivery_tag: Any, body: bytes) -> None:
        with self._lock:
            if not self.spool.accepting():
                # Reference behavior under pressure: neither forward nor
                # ack (amqp.ts:286-297); the broker redelivers after the
                # recover issued once pressure clears.
                self._needs_recover = True
                return
            if self._needs_recover:
                self._needs_recover = False
                self.client.basic_recover(requeue=True)
            self.spool.write(body)
            self.client.basic_ack(delivery_tag)

    def close(self) -> None:
        self.client.basic_cancel(self._tag)
        self.client.close()


class MqttConsumer:
    """``client`` needs subscribe(topic, qos) / unsubscribe(topic) /
    disconnect, and delivers via the ``on_message(topic, payload)``
    attribute this consumer assigns (paho's callback contract)."""

    def __init__(self, client: Any, options: dict, spool: MessageSpool):
        self.client = client
        self.spool = spool
        self._closed = False
        self.topic = options.get("topic", DEFAULT_MQTT_TOPIC)
        client.on_message = self._on_message
        client.subscribe(self.topic, int(options.get("qos", 0)))

    def _on_message(self, topic: str, payload: bytes) -> None:
        # Delay, never drop (mqtt.ts:144-151): hold this delivery until
        # the spool drains or the consumer closes.
        while not self._closed and not self.spool.accepting():
            time.sleep(0.05)
        if not self._closed:
            self.spool.write(payload)

    def close(self) -> None:
        self._closed = True
        self.client.unsubscribe(self.topic)
        self.client.disconnect()


class RedisConsumer:
    """Pub/sub modes: ``client.subscribe(callback, *channels)`` /
    ``client.psubscribe(callback, *patterns)`` with matching
    unsubscribe/punsubscribe; the callback receives the message body.
    List modes: ``client.blpop(keys, timeout)`` / ``brpop`` returning
    (key, value) or None, polled from a daemon thread."""

    def __init__(self, client: Any, options: dict, spool: MessageSpool):
        self.client = client
        self.spool = spool
        self.mode, self.targets = redis_mode(options)
        self._closed = threading.Event()
        self._thread: Optional[threading.Thread] = None
        if self.mode == "subscribe":
            client.subscribe(self._deliver, *self.targets)
        elif self.mode == "psubscribe":
            client.psubscribe(self._deliver, *self.targets)
        else:
            self._thread = threading.Thread(target=self._pop_loop, daemon=True)
            self._thread.start()

    def _deliver(self, message: str | bytes) -> None:
        self.spool.write(message)

    def _pop_loop(self) -> None:
        pop = getattr(self.client, self.mode)
        while not self._closed.is_set():
            if not self.spool.accepting():
                # redis.ts:186-189: under pressure, wait one timeout
                # period instead of popping.
                self._closed.wait(POP_TIMEOUT)
                continue
            result = pop(self.targets, POP_TIMEOUT)
            if result is not None:
                self._deliver(result[1])

    def close(self) -> None:
        self._closed.set()
        if self.mode == "subscribe":
            self.client.unsubscribe(*self.targets)
        elif self.mode == "psubscribe":
            self.client.punsubscribe(*self.targets)
        if self._thread is not None:
            self._thread.join(timeout=2 * POP_TIMEOUT)
        self.client.quit()


# ---------------------------------------------------------------------------
# Client factory seam (mirrors io/brokers.py's publisher factory)


def default_consumer_client_factory(kind: str, options: dict) -> Any:
    """Connect a real broker client for consuming.  Import-gated:
    raises NotImplementedError with guidance when the client library
    is not installed (none are, in this environment)."""
    if kind == "redis":
        try:
            import redis  # type: ignore[import-not-found]
        except ImportError as err:
            raise NotImplementedError(
                "redis input requires the 'redis' client library"
            ) from err
        return redis.Redis.from_url(options.get("instance", "redis://localhost:6379"))
    if kind == "amqp":
        try:
            import pika  # type: ignore[import-not-found]
        except ImportError as err:
            raise NotImplementedError("amqp input requires the 'pika' client library") from err
        return pika.BlockingConnection(pika.URLParameters(options["url"])).channel()
    if kind == "mqtt":
        try:
            import paho.mqtt.client as mqtt  # type: ignore[import-not-found]
        except ImportError as err:
            raise NotImplementedError(
                "mqtt input requires the 'paho-mqtt' client library"
            ) from err
        client = mqtt.Client()
        client.connect(options["url"])  # pragma: no cover
        return client
    raise ValueError(f"unknown broker input '{kind}'")


_consumer_client_factory: Callable[[str, dict], Any] = default_consumer_client_factory


def set_consumer_client_factory(factory: Optional[Callable[[str, dict], Any]]) -> None:
    """Override the consumer client factory (tests inject fakes;
    deployments can wire pooled/preconfigured clients)."""
    global _consumer_client_factory
    _consumer_client_factory = factory if factory is not None else default_consumer_client_factory


_CONSUMERS = {"amqp": AmqpConsumer, "mqtt": MqttConsumer, "redis": RedisConsumer}


def stream_broker(
    spark: SparkSession,
    kind: str,
    options: dict,
    spool_dir: Optional[str] = None,
    wrap: WrapDirective = None,
    max_backlog_files: int = 1024,
    client: Any = None,
) -> tuple[DataFrame, Any]:
    """Broker input: start the consumer and return (event stream,
    consumer handle).  The stream is the standard NDJSON file stream
    over the spool (cleanSource=delete); callers own the consumer
    lifecycle (``consumer.close()``)."""
    import tempfile

    if kind not in _CONSUMERS:
        raise ValueError(f"unknown broker input '{kind}'")
    if isinstance(options, str):
        options = {"url": options}
    spool = MessageSpool(
        spool_dir or tempfile.mkdtemp(prefix=f"cdp_spark_{kind}_spool_"),
        max_backlog_files=max_backlog_files,
    )
    client = client if client is not None else _consumer_client_factory(kind, options)
    consumer = _CONSUMERS[kind](client, options, spool)
    stream = stream_ndjson_files(
        spark, spool.spool_dir, wrap=options.get("wrap", wrap), clean_source="delete"
    )
    return stream, consumer
