"""Metrics & per-second stats — the reference publishes pipeline stats
every second (read/written/error counts, per-filter drops,
/root/reference/stats.go:51-218) through a pluggable metrics client
(metrics.go:12-84) with a Datadog backend (metrics/datadog/).

Spark equivalents wired here:

- ``observe()`` named metrics on DataFrames (CountAndTag uses this) ride
  the real actions for free; :func:`collect_observations` reads them back
  from each operator's ``Observation`` afterwards
- ``StatsDumper`` samples the status tracker once per second and emits a
  one-line progress string — the analog of the reference's console dump
  (testdata/TestStatsDumper.stdout.golden shape)
- ``MetricsClient`` is the pluggable protocol; ``LogMetrics`` prints,
  ``StatsdMetrics`` speaks plain UDP statsd (the protocol Datadog's agent
  ingests) with no external dependency
"""

from __future__ import annotations

import socket
import threading
from collections import deque
import time
from dataclasses import dataclass, field


class MetricsClient:
    """Protocol mirror of the reference's metrics.Client (metrics.go)."""

    def gauge(self, name: str, value: float, tags: list[str] | None = None) -> None: ...

    def delta_count(self, name: str, delta: int, tags: list[str] | None = None) -> None: ...

    def histogram(self, name: str, value: float, tags: list[str] | None = None) -> None: ...


@dataclass
class LogMetrics(MetricsClient):
    #: bounded: a daemon-mode StatsDumper appends ~3 lines/second for
    #: the life of the query — an unbounded list is a slow driver-memory
    #: leak. 10k lines ~= the last hour at that rate, plenty for tests
    #: and debugging (deque drops the oldest).
    lines: "deque[str]" = field(default_factory=lambda: deque(maxlen=10_000))
    echo: bool = False

    def _emit(self, kind, name, value, tags):
        line = f"{kind} {name}={value} tags={tags or []}"
        self.lines.append(line)
        if self.echo:
            print(line)

    def gauge(self, name, value, tags=None):
        self._emit("gauge", name, value, tags)

    def delta_count(self, name, delta, tags=None):
        self._emit("count", name, delta, tags)

    def histogram(self, name, value, tags=None):
        self._emit("histogram", name, value, tags)


@dataclass
class StatsdMetrics(MetricsClient):
    """Dependency-free statsd/Datadog-agent emitter (UDP, fire-and-forget
    like the reference's Datadog client). ``tags`` are constant tags
    attached to every metric, merged with per-call tags — the reference's
    ``statsd.WithTags`` (metrics/datadog/client.go:54-57)."""

    host: str = "127.0.0.1"
    port: int = 8125
    prefix: str = "baker_spark."
    tags: list[str] = field(default_factory=list)

    def __post_init__(self):
        self._sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)

    def _send(self, payload: str, tags):
        all_tags = self.tags + (tags or [])
        if all_tags:
            payload += "|#" + ",".join(all_tags)
        try:
            self._sock.sendto(payload.encode(), (self.host, self.port))
        except OSError:
            pass  # metrics must never take the pipeline down

    def gauge(self, name, value, tags=None):
        self._send(f"{self.prefix}{name}:{value}|g", tags)

    def delta_count(self, name, delta, tags=None):
        self._send(f"{self.prefix}{name}:{delta}|c", tags)

    def histogram(self, name, value, tags=None):
        self._send(f"{self.prefix}{name}:{value}|h", tags)


@dataclass
class DatadogMetrics(StatsdMetrics):
    """The reference's Datadog client surface
    (/root/reference/metrics/datadog/client.go): dogstatsd over UDP with
    the Config knobs ``Prefix`` (namespace, default ``baker.``), ``Host``
    (``host:port`` of the statsd agent), ``Tags`` (constant tags on every
    metric), ``SendLogs`` (log lines forwarded as dogstatsd events — the
    logrus hook in metrics/datadog/hook.go). Adds the client methods the
    base emitter lacks: RawCount's monotonic-counter delta conversion
    (client.go:93-105), Duration (client.go:115+), and the event format.

    Construct with ``from_config`` to take the reference's exact
    defaults: ``DatadogMetrics.from_config(host="127.0.0.1:8125",
    prefix="baker.", tags=[...], send_logs=False)``."""

    prefix: str = "baker."
    send_logs: bool = False

    def __post_init__(self):
        super().__post_init__()
        self._counters: dict[str, int] = {}
        self._counters_lock = threading.Lock()

    @classmethod
    def from_config(
        cls,
        host: str = "127.0.0.1:8125",
        prefix: str = "baker.",
        tags: list[str] | None = None,
        send_logs: bool = False,
    ) -> "DatadogMetrics":
        """Config-shaped constructor (client.go:24-29: Prefix/Host/Tags/
        SendLogs, with Host carrying the port)."""
        hostname, _, port = host.partition(":")
        return cls(
            host=hostname or "127.0.0.1",
            port=int(port or 8125),
            prefix=prefix or "baker.",
            tags=list(tags or []),
            send_logs=send_logs,
        )

    def raw_count(self, name, value, tags=None):
        """Set the current value of a cumulative counter; emitted as the
        positive delta since the last call (client.go:93-105 — negative
        deltas clamp to 0, the counter can only increase)."""
        with self._counters_lock:
            delta = value - self._counters.get(name, 0)
            if delta < 0:
                delta = 0
            self._counters[name] = value
        self._send(f"{self.prefix}{name}:{delta}|c", tags)

    def duration(self, name, seconds, tags=None):
        """A time.Duration sample -> histogram in milliseconds (the
        datadog-go client submits durations as ms histograms)."""
        self.histogram(name, round(seconds * 1000.0, 6), tags)

    def event(self, title, text, tags=None):
        """dogstatsd event datagram: ``_e{<title len>,<text len>}:title|text``."""
        tb, xb = title.encode(), text.encode()
        payload = f"_e{{{len(tb)},{len(xb)}}}:{title}|{text}"
        self._send(payload, tags)

    def send_log(self, level: str, message: str):
        """SendLogs analog (hook.go): a log line becomes an event tagged
        with its level. No-op unless send_logs is on."""
        if self.send_logs:
            self.event(f"baker_spark {level}", message, tags=[f"level:{level}"])


class StatsDumper:
    """Per-second pipeline stats line (stats.go:197-218 prints one line a
    second with records/sec and totals). Samples Spark's status tracker;
    start()/stop() bracket an action."""

    def __init__(self, spark, client: MetricsClient | None = None, interval: float = 1.0):
        self.spark = spark
        self.client = client or LogMetrics(echo=True)
        self.interval = interval
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self):
        tracker = self.spark.sparkContext.statusTracker()
        t0 = time.time()
        while not self._stop.wait(self.interval):
            active = tracker.getActiveJobsIds()
            stages = tracker.getActiveStageIds()
            elapsed = int(time.time() - t0)
            self.client.gauge("active_jobs", len(active))
            self.client.gauge("active_stages", len(stages))
            if isinstance(self.client, LogMetrics):
                self.client.lines.append(
                    f"Stats: 1s[{len(active)} jobs {len(stages)} stages] "
                    f"tot[{elapsed}s elapsed]"
                )

    def start(self):
        # clear the stop flag: start()/stop() bracket individual actions,
        # so a reused dumper must not inherit the previous stop() (the
        # loop would exit on its first wait and silently emit nothing)
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def stop(self):
        self._stop.set()
        if self._thread:
            self._thread.join(timeout=2)

    def __enter__(self):
        return self.start()

    def __exit__(self, *exc):
        self.stop()


#: trigger phases (keys of a progress's ``durationMs``) forwarded as
#: ``batch_phase_ms`` histograms tagged ``phase:<name>``: the source's
#: offset listing, the sink's write and the two checkpoint log writes,
#: so an operator sees where a trigger's fixed cost goes
BATCH_PHASES = ("latestOffset", "addBatch", "walCommit", "commitOffsets")


class StreamingMetrics:
    """Daemon-mode per-batch stats export (the reference dumps stats
    every second in daemon topologies too, stats.go:197-218): a
    StreamingQueryListener forwarding each micro-batch's progress to a
    MetricsClient — input rows, processing rate, batch duration and its
    ``BATCH_PHASES`` — the numbers the reference's one-line stats dump
    carries, plus where a trigger's time went. Attach with
    ``spark.streams.addListener(StreamingMetrics(client).listener)``;
    detach with ``remove(spark)``."""

    def __init__(self, client: MetricsClient):
        self.client = client
        from pyspark.sql.streaming.listener import StreamingQueryListener

        outer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                tags = [f"query:{p.name}"] if p.name else None
                outer.client.delta_count("records_read", int(p.numInputRows), tags)
                outer.client.gauge(
                    "records_per_sec", float(p.processedRowsPerSecond or 0.0), tags
                )
                durations = p.durationMs or {}
                dur = durations.get("triggerExecution")
                if dur is not None:
                    outer.client.histogram("batch_duration_ms", float(dur), tags)
                for phase in BATCH_PHASES:
                    ms = durations.get(phase)
                    if ms is not None:
                        outer.client.histogram(
                            "batch_phase_ms", float(ms), (tags or []) + [f"phase:{phase}"]
                        )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()

    def add(self, spark) -> "StreamingMetrics":
        spark.streams.addListener(self.listener)
        return self

    def remove(self, spark) -> None:
        try:
            spark.streams.removeListener(self.listener)
        except Exception:
            pass


def collect_observations(ops: list) -> dict:
    """Gather CountAndTag observed counters after an action — the free
    side-channel the reference publishes per-filter stats through
    (api.go FilterStats / stats.go NumProcessedLines)."""
    out = {}
    for op in ops:
        getter = getattr(op, "metric_value", None)
        if callable(getter):
            out[op.metric] = getter()
    return out
