"""User metrics: counters, distributions, gauges; engine-level per-
PCollection element counts.

Reference parity: Beam user metrics flow from DoFns through monitoring
infos merged per stage (`/root/reference/ray_beam_runner/portability/
ray_fn_runner.py:462-534`; tests `ray_runner_test.py:985-1019` expect a
counter of 6 and a distribution with sum=10/count=4/min=1/max=4). The
reference also auto-attaches ELEMENT_COUNT monitoring infos to every
PCollection (`ray_fn_runner.py:462-534`, tests `ray_runner_test.py:
1195-1615`); here those ride Spark's Observation API — an aggregate
piggybacked on the transform's own pass, zero extra actions. The
PCollections inside a fused stage (pipeline.py) have no DataFrame of
their own: the stage's Python pass counts them and one Observation on
the stage output reports all of them. Each Observation's columns are
``<pcollection>.element_count`` / ``<pcollection>.byte_count``.

Spark mapping: SparkContext accumulators, updated from inside pandas-UDF
workers and merged on the driver. Counters use the plain long accumulator;
distributions a custom (count, sum, min, max) AccumulatorParam; gauges a
(timestamp, value) AccumulatorParam merged last-write-wins (Beam gauge
semantics: the most recent reported value, not an aggregate). Metric
handles are serialized into the UDF closure; ``flush()`` is called at
bundle end (mirrors the reference's per-bundle monitoring-info commit).
"""

from __future__ import annotations

import time

from pyspark.accumulators import AccumulatorParam


class _DistParam(AccumulatorParam):
    def zero(self, value):
        return (0, 0, None, None)  # count, sum, min, max

    def addInPlace(self, a, b):
        c1, s1, mn1, mx1 = a
        c2, s2, mn2, mx2 = b
        mn = mn1 if mn2 is None else (mn2 if mn1 is None else min(mn1, mn2))
        mx = mx1 if mx2 is None else (mx2 if mx1 is None else max(mx1, mx2))
        return (c1 + c2, s1 + s2, mn, mx)


class _GaugeParam(AccumulatorParam):
    """(update_time, value); merge keeps the later update (last-write-wins
    across tasks — Beam's gauge contract)."""

    def zero(self, value):
        return (None, None)

    def addInPlace(self, a, b):
        ta, tb = a[0], b[0]
        if tb is None:
            return a
        if ta is None or tb >= ta:
            return b
        return a


class Counter:
    def __init__(self, acc):
        self._acc = acc

    def inc(self, n: int = 1):
        self._acc.add(n)


class Distribution:
    def __init__(self, acc):
        self._acc = acc

    def update(self, v):
        self._acc.add((1, v, v, v))


class Gauge:
    """Last-value gauge: ``set`` stamps the executor's wall clock and the
    driver-side merge keeps the most recent (timestamp, value) across
    tasks — true last-write-wins, not a distribution approximation."""

    def __init__(self, acc):
        self._acc = acc

    def set(self, v):
        self._acc.add((time.time(), v))


class MetricsRegistry:
    """Per-pipeline metric registry. query() mirrors the reference's
    ``result.metrics().query(...)`` shape."""

    def __init__(self, spark):
        self._spark = spark
        self._counters: dict[str, Counter] = {}
        self._dists: dict[str, Distribution] = {}
        self._gauges: dict[str, Gauge] = {}
        # engine-level Observations: columns "<pcollection>.element_count"
        # and "<pcollection>.byte_count"; one covers a whole fused stage
        self._observations: list = []
        self._resolved_rows: dict = {}  # Observation -> completed row

    def counter(self, name: str) -> Counter:
        if name not in self._counters:
            self._counters[name] = Counter(self._spark.sparkContext.accumulator(0))
        return self._counters[name]

    def distribution(self, name: str) -> Distribution:
        if name not in self._dists:
            self._dists[name] = Distribution(
                self._spark.sparkContext.accumulator((0, 0, None, None), _DistParam())
            )
        return self._dists[name]

    def gauge(self, name: str) -> Gauge:
        if name not in self._gauges:
            self._gauges[name] = Gauge(
                self._spark.sparkContext.accumulator((None, None), _GaugeParam())
            )
        return self._gauges[name]

    def track_observation(self, obs) -> None:
        """Register an engine-level Observation (auto element counts)."""
        self._observations.append(obs)

    def _resolved(self, obs) -> dict | None:
        """The observation's metrics dict if its action has run, else None.

        Observation.get would BLOCK forever for a plan that never
        executes; the JVM getRowOrEmpty awaits at most ~100 ms, so each
        still-pending observation costs up to that per query() call —
        resolved rows are cached here so the cost is paid once, and only
        for plans that were built but never executed."""
        if obs in self._resolved_rows:
            return self._resolved_rows[obs]
        try:
            if obs._jo.getRowOrEmpty().isEmpty():
                return None
        except Exception:  # noqa: BLE001 - not yet attached / session gone
            return None
        row = dict(obs.get)
        self._resolved_rows[obs] = row
        return row

    def flush(self):
        """Bundle-end hook (accumulators auto-ship; nothing to do, kept for
        lifecycle symmetry with the reference's monitoring-info commit)."""

    def query(self) -> dict:
        # A PCollection inside several executed stages (a chain prefix
        # shared by two consumers) reports its first resolved count.
        counts: dict[str, dict[str, int]] = {"element_count": {}, "byte_count": {}}
        for obs in self._observations:
            for col, v in (self._resolved(obs) or {}).items():
                name, kind = col.rsplit(".", 1)
                counts[kind].setdefault(name, int(v))
        return {
            "counters": {name: c._acc.value for name, c in self._counters.items()},
            "distributions": {
                name: dict(zip(("count", "sum", "min", "max"), d._acc.value))
                for name, d in self._dists.items()
            },
            "gauges": {
                name: dict(zip(("timestamp", "value"), g._acc.value))
                for name, g in self._gauges.items()
                if g._acc.value[0] is not None
            },
            "element_counts": counts["element_count"],
            "byte_counts": counts["byte_count"],
        }
