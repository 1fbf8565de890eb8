"""Beam-model pipeline API compiled to Spark DataFrames.

Provides the reference's pipeline semantics (SURVEY.md §2) natively on
Spark: ``Pipeline`` / ``PCollection`` with ParDo (multi-output, side
inputs, lifecycle), GroupByKey, combiners, windowing (fixed / sliding /
sessions / custom merging), Flatten (heterogeneous), Reshuffle, Distinct,
and user metrics.

Reference parity map (all in /root/reference/ray_beam_runner/):
- ParDo family          translator.py:157-338; portability executes DoFns
                        in an embedded Beam worker (execution.py:54-168)
- Tagged outputs        translator.py:180-206, 559-576
- Side input views      translator.py:506-524, execution.py:469-525
- GroupByKey            overrides.py:84-90, translator.py:341-390
- WindowInto            translator.py:393-416
- Flatten (transcoding) translator.py:419-433
- Reshuffle             translator.py:147-154
- Metrics               ray_fn_runner.py:462-534

Design (SURVEY.md §1.3): the element envelope is ordinary columns —
``key`` (optional), ``value``, ``event_time`` (double, seconds),
``win_start``/``win_end`` (double, null = global window). Values are
typed Spark columns when a type is declared (Catalyst-visible fast path)
and pickled ``binary`` otherwise (the Beam-coder-equivalent opaque path;
the reference is *always* opaque bytes). Opaque user Python runs through
``mapInPandas`` (Arrow batches); everything else is DataFrame expressions.

Stage fusion (the reference's greedily_fuse + one SDK-worker pass per
stage): element-wise Python transforms (single-output ParDo with
broadcast side inputs, map, flat_map, filter, map_to_kv,
with_timestamps, map_kv_values, the CoGBK pair fold) do not build a
DataFrame. Each extends its input's pending ``_Stage``, and the chain
runs as ONE ``mapInPandas`` when something first reads ``.df`` (GBK,
combine, collect, window_into, a side-input view, a join, a
multi-output ParDo). That pass decodes each element once, hands plain
Python objects from step to step and encodes once. Per-PCollection
element counts (exact) and byte counts (sampled per bundle, as the
reference's SAMPLED_BYTE_SIZE) of the steps inside it ride marker rows
into one Observation.

Bounded scope (matches the reference's own rejections): default trigger
only, event-time timers only (ray_fn_runner.py:92-100), no TestStream.
Side-input views materialize to a broadcast (bounded size — same
assumption as the reference's state-actor commit).
"""

from __future__ import annotations

import inspect
import math
import os
import pickle
import random
from collections.abc import Callable, Iterable
from dataclasses import dataclass
from functools import partial
from operator import itemgetter
from typing import Any

import numpy as np
import pandas as pd
from pyspark import cloudpickle
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ray_beam_runner_spark.metrics import MetricsRegistry
from ray_beam_runner_spark.windowing import (
    FixedWindows,
    GlobalWindows,
    Sessions,
    SlidingWindows,
)

GLOBAL_TS = 0.0
_PICKLE = pickle.HIGHEST_PROTOCOL


_dumps = partial(pickle.dumps, protocol=_PICKLE)
_first = itemgetter(0)


def _loads(b) -> Any:
    return pickle.loads(bytes(b))


class TaggedOutput:
    """Marks a DoFn output for a named tag (Beam pvalue.TaggedOutput)."""

    def __init__(self, tag: str, value: Any):
        self.tag = tag
        self.value = value


class _ReservedTagError(ValueError):
    """Raised (and never dead-lettered) when a DoFn emits the reserved
    'error' tag under exception_handling."""


class DoFn:
    """User element-wise function with the Beam lifecycle.

    ``process(element, timestamp=None, window=None, **side_inputs)`` yields
    0..N outputs (plain values or TaggedOutput). setup/start_bundle run
    before the first element of each task, finish_bundle/teardown after
    the last — the pandas-UDF iterator form gives the exact hook points
    the reference gets from DoFnInvoker (translator.py:283-326). In a
    fused stage, later DoFns set up and start first and earlier ones
    finish first, so finish_bundle outputs reach the DoFns after them."""

    def setup(self):  # pragma: no cover - trivial default
        pass

    def start_bundle(self):  # pragma: no cover
        pass

    def process(self, element, timestamp=None, window=None, **side_inputs):
        raise NotImplementedError

    def finish_bundle(self) -> Iterable[Any]:  # pragma: no cover
        return ()

    def teardown(self):  # pragma: no cover
        pass


# ---------------------------------------------------------------------------
# Side input views (reference: translator.py:506-524; tests 163-361)
# ---------------------------------------------------------------------------


class BundleFinalizer:
    """Per-bundle finalization registrar (Beam DoFn.BundleFinalizerParam).

    A DoFn whose ``process`` declares a ``bundle_finalizer`` parameter
    receives one of these per bundle; callbacks registered on it run on
    the DRIVER after the job that carried the bundle commits durably
    (reference: runner issues FinalizeBundleRequest after the bundle
    result arrives, execution.py:131-139). Spark's accumulator semantics
    give exactly the contract Beam documents: updates surface to the
    driver only when the job (the durable commit of the terminal action)
    succeeds, and retried tasks may re-add — i.e. best-effort,
    at-least-once, post-commit.

    Unlike the reference (callbacks run in the SDK worker that registered
    them), callbacks here cross a process boundary: they must be
    cloudpicklable and they execute on the driver. A callback that closes
    over an unpicklable worker-local resource is silently dropped
    (best-effort), not an error."""

    def __init__(self):
        self._callbacks: list = []

    def register(self, callback: Callable[[], Any]) -> None:
        self._callbacks.append(callback)


class _View:
    def __init__(self, pcoll: "PCollection"):
        self.pcoll = pcoll

    def _rows(self):
        return self.pcoll._collect_windowed(
            limit=self.pcoll.pipeline.side_input_max_rows, what="side input"
        )

    def build(self):
        """→ dict window -> view value (window=None for global)."""
        raise NotImplementedError


class AsList(_View):
    empty = staticmethod(list)  # factory: fresh container per delivery

    def build(self):
        out: dict = {}
        for elem, _ts, win in self._rows():
            out.setdefault(win, []).append(elem)
        return out


class AsSingleton(_View):
    empty = staticmethod(lambda: None)

    def build(self):
        out: dict = {}
        for elem, _ts, win in self._rows():
            if win in out:
                raise ValueError("AsSingleton side input has multiple values")
            out[win] = elem
        return out


class AsDict(_View):
    empty = staticmethod(dict)

    def build(self):
        out: dict = {}
        for elem, _ts, win in self._rows():
            k, v = elem
            out.setdefault(win, {})[k] = v
        return out


class AsMultiMap(_View):
    empty = staticmethod(dict)

    def build(self):
        out: dict = {}
        for elem, _ts, win in self._rows():
            k, v = elem
            out.setdefault(win, {}).setdefault(k, []).append(v)
        return out


class _JoinedMultiMap:
    """Per-element view delivered by AsMultiMapJoined: supports lookup of
    the element's OWN join key only (the subset a distributed join can
    provide). Missing side match → empty list (Beam multimap contract);
    any other key is a loud error, not silently-wrong data."""

    __slots__ = ("_key", "_values")

    def __init__(self, key, values):
        self._key = key
        self._values = values

    def __getitem__(self, key):
        if key != self._key:
            raise KeyError(
                f"AsMultiMapJoined can only look up the element's own key "
                f"{self._key!r} (requested {key!r}); use AsMultiMap for "
                f"arbitrary-key access on small sides"
            )
        return self._values

    def get(self, key, default=None):
        return self._values if key == self._key else default


class AsMultiMapJoined:
    """Multimap side input for LARGE sides — the scale path the collect+
    broadcast views can't take (they drain the side through the driver,
    capped by ``Pipeline.side_input_max_rows``).

    Instead of materializing the whole side, the side PCollection is
    aggregated per key and broadcast-JOINED onto the main input; each
    element's DoFn receives the side values for its own join key (the
    element itself when unkeyed, the element's key when keyed) as a
    list-valued :class:`_JoinedMultiMap`. Restrictions vs AsMultiMap:
    global-windowed sides only, and lookups only by the element's own
    key — exactly the subset that needs no driver materialization. For
    sides too large to broadcast, drop the ``broadcast`` flag and Spark
    plans a shuffle join keyed on the main input."""

    def __init__(self, pcoll: "PCollection", broadcast: bool = True):
        if not pcoll.keyed:
            # accept the (k, v)-tuple shape the collect-based KV views take
            if not pcoll.pickled:
                raise ValueError(
                    "AsMultiMapJoined requires a keyed side PCollection "
                    "(or an unkeyed one of (key, value) tuples)"
                )
            pcoll = pcoll._split_kv(None, None)
        if not isinstance(pcoll.windowing, GlobalWindows):
            raise ValueError(
                "AsMultiMapJoined supports global-windowed sides only; "
                "use AsMultiMap for windowed sides"
            )
        self.pcoll = pcoll
        self.broadcast = broadcast


def _lookup_side(view_by_window: dict, main_win, main_ts: float, default):
    """Window-mapping: global side → its single view; windowed side → the
    side window containing the main window's MAX timestamp (end minus one
    microsecond — Beam's default WindowMappingFn maps via
    window.max_timestamp(), so when side windows are finer than main
    windows the LAST overlapping side window is delivered, not the first).
    Reference delivers views keyed (transform, tag, window),
    execution.py:493-523. ``default`` is a FRESH empty container for the
    view type (Beam delivers [] for AsList / {} for AsDict of an empty or
    unmatched side; fresh per delivery so a mutating DoFn can't poison
    later elements)."""
    if set(view_by_window.keys()) == {None}:
        return view_by_window[None]
    probe = main_ts if main_win is None else main_win[1] - 1e-6
    for win, view in view_by_window.items():
        if win is not None and win[0] <= probe < win[1]:
            return view
    return default


# ---------------------------------------------------------------------------
# Fused element-wise stages (reference: the SDK worker runs each stage that
# translations.greedily_fuse built as one bundle pass)
# ---------------------------------------------------------------------------

_ENVELOPE_META = ("event_time", "win_start", "win_end")
_STATS = "__stats"  # marker-row column: [count, bytes] per step of a stage


def _ddl(type_str: str | None) -> T.DataType:
    """Declared Spark DDL type of a column; None → opaque pickled bytes."""
    return T._parse_datatype_string(type_str) if type_str else T.BinaryType()


def _envelope_schema(value_t: T.DataType, key_t: T.DataType | None = None) -> T.StructType:
    fields = [T.StructField("value", value_t)]
    fields += [T.StructField(c, T.DoubleType()) for c in _ENVELOPE_META]
    if key_t is not None:
        fields.insert(0, T.StructField("key", key_t))
    return T.StructType(fields)


@dataclass(frozen=True)
class _Layout:
    """How a PCollection's elements sit in its DataFrame's columns."""

    keyed: bool
    pickled: bool  # value column holds pickles (else a typed column)
    key_pickled: bool
    grouped: bool = False  # value column is an array (GBK output)
    pairs: bool = False  # CoGBK join output: __l/__r arrays, no value column


def _key_decode(k):
    return _loads(k) if isinstance(k, (bytes, bytearray)) else _from_np(k)


def _value_decoder(pickled: bool, grouped: bool) -> Callable:
    one = _loads if pickled else _from_np
    if grouped:
        return lambda a: [] if a is None else [one(x) for x in a]
    return one


def _decode_batch(pdf: pd.DataFrame, src: _Layout, joined: dict):
    """One Arrow batch → envelopes ``(element, ts, win_start, win_end)``
    (a null window bound as None) and, when the stage reads
    AsMultiMapJoined columns, each row's joined side views."""
    if src.pairs:
        side = _value_decoder(src.pickled, True)
        vals = [(side(l), side(r)) for l, r in zip(pdf["__l"].tolist(), pdf["__r"].tolist())]
    else:
        vals = list(map(_value_decoder(src.pickled, src.grouped), pdf["value"].tolist()))
    elems = list(zip(map(_key_decode, pdf["key"].tolist()), vals)) if src.keyed else vals
    ws = [None if w != w else w for w in pdf["win_start"].tolist()]  # NaN → None
    we = [None if w != w else w for w in pdf["win_end"].tolist()]
    envs = list(zip(elems, pdf["event_time"].tolist(), ws, we))
    if not joined:
        return envs, None
    keys = [e[0] for e in elems] if src.keyed else elems
    views: list[dict] = [{} for _ in envs]
    for name, (col, side_pickled) in joined.items():
        dec = _value_decoder(side_pickled, True)
        for view, key, side_vals in zip(views, keys, pdf[col].tolist()):
            view[name] = _JoinedMultiMap(key, dec(side_vals))
    return envs, views


def _encode_values(values: Iterable, pickled: bool, grouped: bool) -> list:
    if not pickled:
        return list(values)
    if grouped:
        return [list(map(_dumps, v)) for v in values]
    return list(map(_dumps, values))


def _frame_encoder(layout: _Layout) -> Callable:
    """Envelopes → a pandas frame of the layout's columns."""

    def encode(envs: list) -> pd.DataFrame:
        elems = list(map(_first, envs))
        cols = {}
        if layout.keyed:
            cols["key"] = _encode_values([k for k, _ in elems], layout.key_pickled, False)
            elems = [v for _, v in elems]
        cols["value"] = _encode_values(elems, layout.pickled, layout.grouped)
        for i, c in enumerate(_ENVELOPE_META, 1):  # None → NaN, no dtype inference
            cols[c] = np.array(list(map(itemgetter(i), envs)), dtype=np.float64)
        return pd.DataFrame(cols)

    return encode


def _row_encoder(layout: _Layout) -> Callable:
    """Envelope → output row ``(key?, value, event_time, win_start, win_end)``."""

    def enc(e, t, s, w):
        key = ()
        if layout.keyed:
            k, e = e
            key = (_dumps(k) if layout.key_pickled else k,)
        return (*key, *_encode_values([e], layout.pickled, layout.grouped), t, s, w)

    return enc


class _DeadLetter:
    """A failed element's pickled ``(element, error_repr)`` payload."""

    __slots__ = ("payload",)

    def __init__(self, payload: bytes):
        self.payload = payload


def _tagged_encoder(layout: _Layout, dead_letters: bool) -> Callable:
    """Row encoder of a multi-output pass: the envelope row plus ``tag``
    (and ``error_payload`` under exception_handling)."""
    enc = _row_encoder(layout)
    pad = (None,) if dead_letters else ()
    blank = (None,) * (2 if layout.keyed else 1)

    def enc_tagged(e, t, s, w) -> tuple:
        if isinstance(e, _DeadLetter):
            return blank + (t, s, w, "error", e.payload)
        tag = None
        if isinstance(e, TaggedOutput):
            tag, e = e.tag, e.value
            if dead_letters and tag == "error":
                raise _ReservedTagError(
                    "TaggedOutput tag 'error' is reserved by "
                    "exception_handling for dead letters"
                )
        return enc(e, t, s, w) + (tag,) + pad

    return enc_tagged


def _value_size(value_t: T.DataType, pickled: bool, keyed: bool) -> Callable | None:
    """Encoded size of one output envelope's value, as ``byte_counts``
    reports it: its pickle length, or the length of a typed
    string/binary value; None where no size is reported (other typed
    values)."""
    if not pickled and not isinstance(value_t, (T.StringType, T.BinaryType)):
        return None

    def size(env) -> int:
        value = env[0][1] if keyed else env[0]
        if pickled:
            return len(_dumps(value))
        return 0 if value is None else len(value)

    return size


_EXACT_SIZES = 10  # outputs per step and bundle whose size is taken exactly


class _SizeSampler:
    """Byte count of one step's outputs in one bundle, sampled as Beam's
    SAMPLED_BYTE_SIZE does: the first ``_EXACT_SIZES`` outputs are sized
    exactly; after them the i-th output is sampled with probability
    about ``_EXACT_SIZES / i`` (geometric skips), and the mean sampled
    size stands for every output past the exact prefix. The skips come
    from a fixed-seed generator, so a bundle's count repeats across
    runs."""

    def __init__(self, size: Callable, seed: int):
        self.size, self.rng = size, random.Random(seed)
        self.seen = self.exact = self.sampled = self.n_sampled = 0
        self.next = _EXACT_SIZES  # index of the next sampled output

    def add(self, envs: list) -> None:
        first, self.seen = self.seen, self.seen + len(envs)
        self.exact += sum(map(self.size, envs[: max(0, _EXACT_SIZES - first)]))
        while self.next < self.seen:
            self.sampled += self.size(envs[self.next - first])
            self.n_sampled += 1
            p = _EXACT_SIZES / (self.next + 1)
            self.next += 1 + int(math.log(1.0 - self.rng.random()) / math.log(1.0 - p))

    def total(self) -> int:
        rest = self.seen - min(self.seen, _EXACT_SIZES)
        return self.exact + (round(self.sampled * rest / self.n_sampled) if rest else 0)


class _Step:
    """One element-wise transform of a fused stage. ``process`` maps a list
    of envelopes to the list of its outputs. ``name`` is the output
    PCollection whose element (and, with ``size``, byte) counts the stage
    reports; None for transforms that report none. ``size`` gives the
    encoded value size of one output (sampled per bundle, _SizeSampler).

    The user callable is pickled when the step is built, as Beam's ParDo
    does: driver state that changes after a transform is applied (a loop
    variable, a DoFn attribute) does not reach it. Each step loads its own
    copy in the worker, so a DoFn object applied twice is two instances."""

    def __init__(self, fn, name: str | None = None, size: Callable | None = None):
        self._fn_blob = cloudpickle.dumps(fn)
        self.name, self.size = name, size

    def setup(self):
        self.fn = cloudpickle.loads(self._fn_blob)

    def start_bundle(self):
        pass

    def process(self, envs: list, joined: list | None = None) -> list:
        raise NotImplementedError

    def finish_bundle(self) -> list:
        return []

    def teardown(self):
        pass


class _FnStep(_Step):
    """A plain per-element function: no lifecycle, no side inputs."""

    def __init__(self, kind: str, fn: Callable, name: str | None = None, size=None):
        super().__init__(fn, name, size)
        self.kind = kind

    def process(self, envs, joined=None):
        fn = self.fn
        if self.kind == "map":
            return [(fn(e), t, s, w) for e, t, s, w in envs]
        if self.kind == "flat_map":
            return [(o, t, s, w) for e, t, s, w in envs for o in fn(e)]
        if self.kind == "filter":
            return [env for env in envs if fn(env[0])]
        if self.kind == "timestamp":
            return [(e, float(fn(e)), s, w) for e, t, s, w in envs]
        if self.kind == "kv_values":
            return [((k, fn(v)), t, s, w) for (k, v), t, s, w in envs]
        raise ValueError(f"unknown step kind {self.kind!r}")


class _DoFnStep(_Step):
    """A user DoFn (``fn``): Beam lifecycle, broadcast side inputs, the
    joined side views of an AsMultiMapJoined input (first step of a stage
    only) and the bundle finalizer. A single-output step emits envelopes,
    TaggedOutput wrappers unwrapped. A multi-output step (``encode``, the
    tagged row encoder) emits encoded rows, tag included; under
    ``dead_letters`` an element's outputs are encoded inside its try, so a
    failure anywhere in the element dead-letters it."""

    def __init__(
        self, dofn, name, size, side_views, side_empties, finalizer_acc,
        encode: Callable | None = None, dead_letters: bool = False,
    ):
        super().__init__(dofn, name, size)
        self.side_views, self.side_empties = side_views, side_empties
        self.finalizer_acc = finalizer_acc  # None unless process takes bundle_finalizer
        self.encode, self.dead_letters = encode, dead_letters

    def setup(self):
        super().setup()
        self.fn.setup()

    def start_bundle(self):
        self.fn.start_bundle()
        self._sides = {name: bc.value for name, bc in self.side_views.items()}
        self._finalizer = BundleFinalizer() if self.finalizer_acc is not None else None
        self._extra = {} if self._finalizer is None else {"bundle_finalizer": self._finalizer}

    def _outputs(self, e, t, s, w, joined):
        win = None if s is None else (s, w)
        sides = {
            name: _lookup_side(view, win, t, self.side_empties[name]())
            for name, view in self._sides.items()
        }
        if joined:
            sides.update(joined)
        return self.fn.process(e, timestamp=t, window=win, **self._extra, **sides) or ()

    def _emit(self, o, t, s, w):
        if self.encode is not None:
            return self.encode(o, t, s, w)
        return (o.value if isinstance(o, TaggedOutput) else o, t, s, w)

    def process(self, envs, joined=None):
        out: list = []
        for i, (e, t, s, w) in enumerate(envs):
            row_sides = joined[i] if joined else None
            if not self.dead_letters:
                out += [self._emit(o, t, s, w) for o in self._outputs(e, t, s, w, row_sides)]
                continue
            try:
                rows = [self._emit(o, t, s, w) for o in self._outputs(e, t, s, w, row_sides)]
            except _ReservedTagError:
                raise  # misuse of the API, never a dead letter
            except Exception as ex:  # noqa: BLE001 - dead-letter route
                rows = [self.encode(_DeadLetter(_dumps((e, repr(ex)))), t, s, w)]
            out += rows
        return out

    def finish_bundle(self):
        return [self._emit(o, GLOBAL_TS, None, None) for o in self.fn.finish_bundle() or ()]

    def teardown(self):
        if self._finalizer is not None and self._finalizer._callbacks:
            # ship the registered callbacks to the driver; accumulator
            # updates surface only when the carrying job commits.
            # Callbacks run DRIVER-side so they must be picklable; an
            # unpicklable one (closing over a socket/file handle) is
            # dropped here rather than failing the task — finalization
            # is best-effort per the Beam contract.
            blobs = []
            for cb in self._finalizer._callbacks:
                try:
                    blobs.append(cloudpickle.dumps(cb))
                except Exception:  # noqa: BLE001 - best-effort drop
                    pass
            if blobs:
                self.finalizer_acc.add(blobs)
        self.fn.teardown()


def _run_stage(batches, steps, src, joined, encode, columns, stats):
    """Run a fused stage over one bundle (one task's Arrow batches): decode
    each element once, pass plain Python objects from step to step, encode
    once at the output. Lifecycle order is Beam's bundle processor's:
    consumers set up and start first, producers finish first, so a step's
    finish_bundle outputs flow through the later steps before those
    finish. With ``stats``, a last marker row carries each step's
    [element count, byte count] for the stage's Observation."""
    for st in reversed(steps):
        st.setup()
    for st in reversed(steps):
        st.start_bundle()
    tally = [0] * (2 * len(steps))
    sizes = [
        _SizeSampler(st.size, i) if stats and st.name and st.size else None
        for i, st in enumerate(steps)
    ]

    def push(envs, first, joined_rows=None):
        for i in range(first, len(steps)):
            envs = steps[i].process(envs, joined_rows if i == 0 else None)
            count(i, envs)
        return envs

    def count(i, envs):
        if stats and steps[i].name is not None:
            tally[2 * i] += len(envs)
            if sizes[i] is not None:
                sizes[i].add(envs)

    def frame(envs):
        pdf = encode(envs)
        if stats:
            pdf[_STATS] = None
        return pdf

    for pdf in batches:
        envs, joined_rows = _decode_batch(pdf, src, joined)
        out = push(envs, 0, joined_rows)
        if out:
            yield frame(out)
    tail: list = []
    for i, st in enumerate(steps):
        fin = st.finish_bundle()
        count(i, fin)
        tail += push(fin, i + 1)
    if tail:
        yield frame(tail)
    if stats:
        for i, sampler in enumerate(sizes):
            if sampler is not None:
                tally[2 * i + 1] = sampler.total()
        yield pd.DataFrame({**{c: [None] for c in columns}, _STATS: [tally]})
    for st in steps:
        st.teardown()


class _Stage:
    """A chain of element-wise steps over one input DataFrame (Beam's fused
    stage). It runs as ONE mapInPandas pass, built the first time its
    PCollection's ``df`` is needed. ``joined`` names the AsMultiMapJoined
    columns of ``base`` that the first step reads."""

    def __init__(self, base: DataFrame, src: _Layout, steps: tuple = (), joined=None):
        self.base, self.src, self.steps, self.joined = base, src, steps, joined or {}

    def then(self, step: _Step) -> "_Stage":
        return _Stage(self.base, self.src, self.steps + (step,), self.joined)

    def map_in_pandas(self, schema: T.StructType, encode: Callable, stats: bool = False):
        """``encode`` turns a list of the last step's outputs (envelopes, or
        a multi-output step's encoded rows) into a pandas frame of
        ``schema``'s columns."""
        columns = schema.fieldNames()
        if stats:
            schema = T.StructType([*schema.fields, T.StructField(_STATS, T.ArrayType(T.LongType()))])
        # The steps (their user code already pickled, their broadcast side
        # views not) pickle with mapInPandas's command, so the broadcasts
        # ship with it.
        steps, src, joined = self.steps, self.src, self.joined

        def kernel(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
            return _run_stage(batches, steps, src, joined, encode, columns, stats)

        return self.base.mapInPandas(kernel, schema=schema)


# ---------------------------------------------------------------------------
# PCollection
# ---------------------------------------------------------------------------


class PCollection:
    """A distributed collection: DataFrame + envelope metadata.

    ``df`` columns: [key?, value, event_time, win_start, win_end].
    ``layout``: how elements sit in those columns (``keyed``, ``pickled``,
    ``key_pickled``, ``grouped``, each also readable as an attribute).
    ``windowing``: the WindowFn in effect (merging fns apply at GBK).

    An element-wise Python transform returns a PCollection whose ``df``
    is pending: it holds its parent's stage extended by one step, and
    the whole chain becomes one mapInPandas the first time ``df`` is
    read (GBK, combine, collect, to_dataframe, window_into, a side-input
    view, a join, ...)."""

    def __init__(
        self,
        pipeline: "Pipeline",
        df: DataFrame | None,
        keyed: bool,
        pickled: bool,
        windowing=None,
        grouped: bool = False,
        *,
        key_pickled: bool | None = None,
        stage: _Stage | None = None,
        schema: T.StructType | None = None,
    ):
        self.pipeline = pipeline
        self._df = df
        self._stage = stage
        self._schema = schema
        self.layout = _Layout(keyed, pickled, pickled if key_pickled is None else key_pickled, grouped)
        self.windowing = windowing or GlobalWindows()

    keyed = property(lambda self: self.layout.keyed)
    pickled = property(lambda self: self.layout.pickled)
    key_pickled = property(lambda self: self.layout.key_pickled)
    grouped = property(lambda self: self.layout.grouped)  # value is array<...> from GBK

    @property
    def df(self) -> DataFrame:
        if self._df is None:
            self._df = self._materialize()
        return self._df

    @df.setter
    def df(self, df: DataFrame):
        self._df, self._stage = df, None

    @property
    def schema(self) -> T.StructType:
        """The df's schema, without building a pending stage."""
        return self._schema if self._df is None else self._df.schema

    def _envelope(self) -> T.StructType:
        """This collection's schema in envelope column order."""
        s = self.schema
        return _envelope_schema(s["value"].dataType, s["key"].dataType if self.keyed else None)

    def _materialize(self) -> DataFrame:
        """The pending stage as one mapInPandas, its marker rows summed by
        one Observation and then dropped."""
        stage = self._stage
        stats = not stage.base.isStreaming and any(st.name for st in stage.steps)
        df = stage.map_in_pandas(self._schema, _frame_encoder(self.layout), stats)
        if not stats:
            return df
        df = self.pipeline._observe_stage(df, stage.steps)
        return df.filter(F.col(_STATS).isNull()).drop(_STATS)

    def _then(self, step, keyed, pickled, key_pickled, schema, grouped=False) -> "PCollection":
        """A pending PCollection: this one's stage (or a new stage over its
        df) extended by ``step``; None re-lays out the same elements."""
        stage = self._stage or _Stage(self.df, self.layout)
        if step is not None:
            stage = stage.then(step)
        return PCollection(
            self.pipeline, None, keyed, pickled, self.windowing, grouped,
            key_pickled=key_pickled, stage=stage, schema=schema,
        )

    # -- element-wise (ParDo family) ------------------------------------

    def par_do(
        self,
        dofn: DoFn,
        output_type: str | None = None,
        outputs: tuple[str, ...] = (),
        side_inputs: dict[str, _View] | None = None,
        keyed_output: bool | None = None,
        key_type: str | None = None,
        label: str | None = None,
        exception_handling: bool = False,
    ):
        """Run a DoFn over every element. Returns a PCollection, or a dict
        {tag: PCollection} (main output under 'main') when ``outputs``
        names side tags. ``output_type`` is a Spark DDL type for the value
        column; None → opaque pickled values. With ``keyed_output`` the
        DoFn must emit (key, value) tuples; they are split into a real key
        column (typed via ``key_type``, else pickled) so every downstream
        keyed op (group_by_key, map_kv_values, ...) sees the schema it
        expects.

        A single-output ParDo with only broadcast side inputs fuses into
        its input's stage. Multi-output and exception_handling ParDos
        run their own persisted pass, and an AsMultiMapJoined side input
        starts a new stage over the join.

        ``exception_handling`` (Beam's ``with_exception_handling`` /
        dead-letter pattern): a per-element exception no longer fails the
        job — the failing element is routed to an ``error`` output as a
        pickled ``(element, error_repr)`` tuple, and the element's
        partial outputs are discarded (per-element atomicity). Forces the
        dict return shape with an ``error`` entry alongside ``main``;
        the tag name ``error`` is reserved (declaring it in ``outputs``
        or emitting ``TaggedOutput("error", ...)`` is a loud error, never
        silent mis-routing into the dead-letter view)."""
        if exception_handling and "error" in outputs:
            raise ValueError(
                "exception_handling reserves the 'error' output tag; rename "
                "the user tag or drop exception_handling"
            )
        all_sides = side_inputs or {}
        joined_sides = {
            name: v for name, v in all_sides.items() if isinstance(v, AsMultiMapJoined)
        }
        bc_sides = {
            name: v for name, v in all_sides.items() if not isinstance(v, AsMultiMapJoined)
        }
        side_views = {
            name: self.pipeline.spark.sparkContext.broadcast(view.build())
            for name, view in bc_sides.items()
        }
        side_empties = {name: type(view).empty for name, view in bc_sides.items()}

        # Join-based large-side path: aggregate the side per key, join it
        # onto the main input (broadcast by default), and let the kernel
        # hand each element the side values for its own key. No driver
        # materialization, no size cap. Keys must compare equal on their
        # stored representation (typed columns, or deterministic pickles
        # for opaque keys — same assumption group_by_key already makes).
        joined_df = None
        joined_meta: dict[str, tuple[str, bool]] = {}
        for name, view in joined_sides.items():
            col = f"side__{name}"
            skey = f"sidekey__{name}"
            # the join compares stored representations — a typed main
            # against a pickled side (or differing dtypes) would compile
            # via implicit casts and silently match nothing
            main_join_col = "key" if self.keyed else "value"
            main_dtype = self.schema[main_join_col].dataType.simpleString()
            side_dtype = view.pcoll.schema["key"].dataType.simpleString()
            if main_dtype != side_dtype:
                raise ValueError(
                    f"AsMultiMapJoined key type mismatch for side input "
                    f"{name!r}: main {main_join_col!r} column is "
                    f"{main_dtype}, side key column is {side_dtype} "
                    f"(binary = pickled). Give both sides the same key "
                    f"typing (e.g. key_type=... on map_to_kv, or leave "
                    f"both pickled)."
                )
            sdf = (
                view.pcoll.df.groupBy("key")
                .agg(F.collect_list("value").alias(col))
                .withColumnRenamed("key", skey)
            )
            if view.broadcast:
                sdf = F.broadcast(sdf)
            join_key = F.col("key") if self.keyed else F.col("value")
            joined_df = (self.df if joined_df is None else joined_df).join(
                sdf, join_key.eqNullSafe(F.col(skey)), "left"
            ).drop(skey)
            joined_meta[name] = (col, view.pcoll.pickled)
        wants_finalizer = "bundle_finalizer" in inspect.signature(dofn.process).parameters
        out_keyed = bool(keyed_output)
        out_pickled = output_type is None
        key_pickled = (key_type is None) if out_keyed else None
        value_t = _ddl(output_type)
        schema = _envelope_schema(value_t, _ddl(key_type) if out_keyed else None)
        name = self.pipeline._next_label("ParDo", label)
        tagged = bool(outputs) or exception_handling
        out_layout = _Layout(out_keyed, out_pickled, bool(key_pickled))
        step = _DoFnStep(
            dofn,
            f"{name}.out",
            _value_size(value_t, out_pickled, out_keyed),
            side_views,
            side_empties,
            self.pipeline._finalizer_acc if wants_finalizer else None,
            encode=_tagged_encoder(out_layout, exception_handling) if tagged else None,
            dead_letters=exception_handling,
        )

        def child(df):
            return PCollection(
                self.pipeline, df, out_keyed, out_pickled, self.windowing, key_pickled=key_pickled
            )

        if not tagged:
            if joined_meta:
                stage = _Stage(joined_df, self.layout, (step,), joined_meta)
                return PCollection(
                    self.pipeline, None, out_keyed, out_pickled, self.windowing,
                    key_pickled=key_pickled, stage=stage, schema=schema,
                )
            return self._then(step, out_keyed, out_pickled, key_pickled, schema)

        fields = [*schema.fields, T.StructField("tag", T.StringType())]
        if exception_handling:
            # dead letters carry a pickled (element, error) payload in a
            # dedicated column — the value column keeps its declared type
            fields.append(T.StructField("error_payload", T.BinaryType()))
        base = self.df if joined_df is None else joined_df
        stage = _Stage(base, self.layout, (step,), joined_meta)
        # Persist so N tagged views cost one DoFn pass (required for
        # correctness with nondeterministic/metric-bearing DoFns).
        # Tracked on the pipeline: call Pipeline.release() when done.
        columns = [f.name for f in fields]
        out_df = stage.map_in_pandas(
            T.StructType(fields), lambda rows: pd.DataFrame(rows, columns=columns)
        ).persist()
        self.pipeline._persisted.append(out_df)
        observe = self.pipeline._observe_elements

        def tag_view(df):
            return df.drop("error_payload") if exception_handling else df

        result = {
            "main": child(
                observe(
                    f"{name}.out",
                    tag_view(out_df.filter(F.col("tag").isNull()).drop("tag")),
                )
            )
        }
        for tag in outputs:
            result[tag] = child(
                observe(
                    f"{name}.out.{tag}",
                    tag_view(out_df.filter(F.col("tag") == tag).drop("tag")),
                )
            )
        if exception_handling:
            err_df = out_df.filter(
                (F.col("tag") == "error") & F.col("error_payload").isNotNull()
            ).select(F.col("error_payload").alias("value"), *_ENVELOPE_META)
            result["error"] = PCollection(
                self.pipeline,
                observe(f"{name}.out.error", err_df),
                False,
                True,
                self.windowing,
            )
        return result

    def _child(self, df: DataFrame, keyed: bool, pickled: bool, grouped: bool = False):
        return PCollection(
            self.pipeline, df, keyed, pickled, self.windowing, grouped,
            key_pickled=self.key_pickled if keyed else None,
        )

    def _fn(self, kind: str, fn: Callable, output_type: str | None) -> "PCollection":
        """A ParDo of a plain function (labelled and counted as one),
        without the DoFn lifecycle and side-input machinery."""
        name = self.pipeline._next_label("ParDo", None)
        value_t = _ddl(output_type)
        pickled = output_type is None
        step = _FnStep(kind, fn, f"{name}.out", _value_size(value_t, pickled, False))
        return self._then(step, False, pickled, None, _envelope_schema(value_t))

    def map(self, fn: Callable, output_type: str | None = None) -> "PCollection":
        return self._fn("map", fn, output_type)

    def flat_map(self, fn: Callable, output_type: str | None = None) -> "PCollection":
        return self._fn("flat_map", fn, output_type)

    def filter(self, fn: Callable) -> "PCollection":
        """Keep elements where fn(element) is truthy. Identity transform:
        the whole envelope is kept, including the key of a keyed
        PCollection and the lists of a grouped one."""
        return self._then(
            _FnStep("filter", fn), self.keyed, self.pickled, self.key_pickled,
            self._envelope(), self.grouped,
        )

    def select_expr(self, *exprs: str) -> "PCollection":
        """Typed fast path: transform the value with SQL expressions over a
        typed value column (stays fully inside Catalyst — zero Python).
        The first expr must alias to ``value``."""
        if self.pickled:
            raise ValueError("select_expr requires a typed value column")
        df = self.df.selectExpr(*exprs, *(c for c in _ENVELOPE_META))
        return self._child(df, self.keyed, False)

    # -- keying ----------------------------------------------------------

    def map_to_kv(self, fn: Callable, key_type: str | None = None, value_type: str | None = None):
        """fn(element) -> (key, value); None types → pickled."""
        pc = self.map(fn)  # pickled tuples
        return pc._split_kv(key_type, value_type)

    def _split_kv(self, key_type: str | None, value_type: str | None) -> "PCollection":
        """Re-lay out pickled (key, value) tuples as key and value columns:
        no step of its own, only the stage's output encoding changes."""
        assert self.pickled and not self.keyed
        schema = _envelope_schema(_ddl(value_type), _ddl(key_type))
        return self._then(None, True, value_type is None, key_type is None, schema)

    # -- windowing --------------------------------------------------------

    def window_into(self, windowfn) -> "PCollection":
        """Assign windows from event_time (reference translator.py:393-416).
        Non-merging fns materialize win_start/win_end now (sliding windows
        fan out via explode); merging fns defer to grouping time."""
        if isinstance(windowfn, GlobalWindows):
            df = self.df.withColumn("win_start", F.lit(None).cast("double")).withColumn(
                "win_end", F.lit(None).cast("double")
            )
        elif isinstance(windowfn, FixedWindows):
            start = F.floor(F.col("event_time") / windowfn.size) * windowfn.size
            df = self.df.withColumn("win_start", start.cast("double")).withColumn(
                "win_end", (start + windowfn.size).cast("double")
            )
        elif isinstance(windowfn, SlidingWindows):
            size, period = float(windowfn.size), float(windowfn.period)
            # Descending window starts: first = floor(ts/period); last = the
            # smallest s with s*period + size > ts (strict) = floor((ts-size)/period)+1.
            hi = F.floor(F.col("event_time") / period).cast("long")
            lo = F.floor((F.col("event_time") - size) / period).cast("long") + 1
            # period > size is valid Beam config where some elements fall in
            # ZERO windows (lo > hi): guard the sequence (inverted bounds
            # with step -1 throw at runtime) and let explode drop the
            # element, mirroring SlidingWindows.assign returning [].
            starts = F.when(lo <= hi, F.sequence(hi, lo, F.lit(-1))).otherwise(
                F.array().cast("array<long>")
            )
            df = (
                self.df.withColumn("__s", F.explode(starts))
                .withColumn("win_start", (F.col("__s") * period).cast("double"))
                .withColumn("win_end", (F.col("__s") * period + size).cast("double"))
                .drop("__s")
            )
        else:
            # Merging windowfn: windows materialize per key at grouping
            # time (GroupAlsoByWindow). Clear any previously assigned
            # windows — they belong to the superseded windowing and would
            # leak into side-input mapping / distinct / reified params.
            df = self.df.withColumn("win_start", F.lit(None).cast("double")).withColumn(
                "win_end", F.lit(None).cast("double")
            )
        return PCollection(
            self.pipeline, df, self.keyed, self.pickled, windowfn, self.grouped,
            key_pickled=self.key_pickled,
        )

    def with_timestamps(self, fn: Callable) -> "PCollection":
        """Set event_time per element (Beam TimestampedValue)."""
        return self._then(
            _FnStep("timestamp", fn), self.keyed, self.pickled, self.key_pickled,
            self._envelope(), self.grouped,
        )

    # -- grouping ----------------------------------------------------------

    def group_by_key(self) -> "PCollection":
        """GBK: (key, window) → iterable of values. Non-merging windows:
        a single groupBy — the shuffle IS the Exchange Catalyst plans.
        Merging windows (sessions/custom): per-key applyInPandas merge
        (GroupAlsoByWindow, reference overrides.py:72-79)."""
        if not self.keyed:
            raise ValueError("group_by_key requires a keyed PCollection")
        wfn = self.windowing
        if getattr(wfn, "merging", False):
            return self._gbk_merging(wfn)
        grouped = (
            self.df.groupBy("key", "win_start", "win_end")
            .agg(F.collect_list("value").alias("value"), F.max("event_time").alias("event_time"))
            .select("key", "value", "event_time", "win_start", "win_end")
        )
        grouped = self.pipeline._observe_elements(
            self.pipeline._next_label("GroupByKey", None) + ".out", grouped
        )
        # typed keys stay typed downstream (.keys() would otherwise try to
        # unpickle them)
        return PCollection(
            self.pipeline, grouped, True, self.pickled, wfn, grouped=True,
            key_pickled=self.key_pickled,
        )

    def _gbk_merging(self, wfn) -> "PCollection":
        schema = T.StructType(
            [
                T.StructField("key", self.df.schema["key"].dataType),
                T.StructField("value", T.ArrayType(self.df.schema["value"].dataType)),
                T.StructField("event_time", T.DoubleType()),
                T.StructField("win_start", T.DoubleType()),
                T.StructField("win_end", T.DoubleType()),
            ]
        )

        def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
            protos = []
            for ts in pdf["event_time"]:
                protos.extend(wfn.assign(float(ts)))
            merged = wfn.merge(protos)

            def locate(ts: float):
                for s, e in merged:
                    for ps, pe in wfn.assign(ts):
                        if s <= ps and pe <= e:
                            return (s, e)
                raise AssertionError("window merge did not cover element")

            buckets: dict = {}
            for _, row in pdf.iterrows():
                w = locate(float(row["event_time"]))
                buckets.setdefault(w, []).append((row["value"], row["event_time"]))
            rows = [
                (pdf["key"].iloc[0], [v for v, _ in items], max(t for _, t in items), s, e)
                for (s, e), items in buckets.items()
            ]
            return pd.DataFrame(rows, columns=["key", "value", "event_time", "win_start", "win_end"])

        df = self.df.groupBy("key").applyInPandas(merge_group, schema=schema)
        return PCollection(
            self.pipeline, df, True, self.pickled, wfn, grouped=True, key_pickled=self.key_pickled
        )

    def kv_to_tuples(self) -> "PCollection":
        """Re-view a keyed PCollection as unkeyed (k, v) tuple values
        (pickled). Used to normalize heterogeneous KV collections before
        Flatten/CoGBK, mirroring the reference's coder transcoding."""
        if not self.keyed:
            raise ValueError("kv_to_tuples requires a keyed PCollection")
        return self.map(lambda e: e)

    def _as_opaque_kv(self) -> "PCollection":
        """Normalize to pickled key + pickled value representation."""
        if self.pickled and self.key_pickled:
            return self
        return self.kv_to_tuples()._split_kv(None, None)

    def co_group_by_key(self, other: "PCollection") -> "PCollection":
        """CoGroupByKey: (key, ([left values], [right values])) per window.
        The reference expands this to Flatten+GBK (SURVEY §2.3). Here:
        non-merging windows → each side groups independently and
        full-outer-joins on (key, window), one shuffle per side. Merging
        windows (sessions/custom) → the sides union with a side tag first
        so windows merge across BOTH inputs (Beam semantics: one session
        covering elements of either side is one group). Heterogeneous
        value/key representations transcode to the opaque form first."""
        if not (self.keyed and other.keyed):
            raise ValueError("co_group_by_key requires keyed PCollections")
        l, r = self, other
        same_key_type = l.schema["key"].dataType == r.schema["key"].dataType
        if l.pickled != r.pickled or l.key_pickled != r.key_pickled or not same_key_type:
            l, r = l._as_opaque_kv(), r._as_opaque_kv()
        if getattr(self.windowing, "merging", False):
            lt = l.map_kv_values(lambda v: ("l", v))
            rt = r.map_kv_values(lambda v: ("r", v))
            u = PCollection(
                self.pipeline, lt.df.unionByName(rt.df), True, True, self.windowing,
                key_pickled=lt.key_pickled,
            )
            grouped = u.group_by_key()
            return grouped.map_kv_values(
                lambda vs: (
                    [v for s, v in vs if s == "l"],
                    [v for s, v in vs if s == "r"],
                )
            )
        a, b = l.group_by_key(), r.group_by_key()
        adf = a.df.select(
            "key",
            F.col("value").alias("__l"),
            "event_time",
            "win_start",
            "win_end",
        )
        bdf = b.df.select(
            F.col("key").alias("__bk"),
            F.col("value").alias("__r"),
            F.col("event_time").alias("__bt"),
            F.col("win_start").alias("__bws"),
            F.col("win_end").alias("__bwe"),
        )
        # Null-safe equality: the global window is (null, null) and plain
        # SQL equality would never match it.
        cond = (
            adf["key"].eqNullSafe(bdf["__bk"])
            & adf["win_start"].eqNullSafe(bdf["__bws"])
            & adf["win_end"].eqNullSafe(bdf["__bwe"])
        )
        j = adf.join(bdf, cond, "full_outer").select(
            F.coalesce(adf["key"], bdf["__bk"]).alias("key"),
            F.coalesce("__l", F.array().cast(adf.schema["__l"].dataType)).alias("__l"),
            F.coalesce("__r", F.array().cast(bdf.schema["__r"].dataType)).alias("__r"),
            F.greatest(
                F.coalesce("event_time", F.lit(float("-inf"))),
                F.coalesce("__bt", F.lit(float("-inf"))),
            ).alias("event_time"),
            F.coalesce(adf["win_start"], bdf["__bws"]).alias("win_start"),
            F.coalesce(adf["win_end"], bdf["__bwe"]).alias("win_end"),
        )
        # A stage over the join folds (__l, __r) into one pickled
        # ([left...], [right...]) value; downstream ParDos fuse onto it.
        return PCollection(
            self.pipeline, None, True, True, self.windowing,
            key_pickled=l.key_pickled,
            stage=_Stage(j, _Layout(True, l.pickled, l.key_pickled, pairs=True)),
            schema=_envelope_schema(T.BinaryType(), j.schema["key"].dataType),
        )

    def combine_per_key(self, spec) -> "PCollection":
        """Per-key combiner. ``spec`` ∈ {'sum','min','max','mean','count'}
        (native partial/final hash agg — the lifting the reference does via
        translations.lift_combiners is built into Spark) or a callable
        list→value (runs after GBK)."""
        if callable(spec):
            gbk = self.group_by_key()
            return gbk.map_kv_values(lambda vs: spec(list(vs)))
        if self.pickled:
            raise ValueError("named combiners require a typed value column")
        wfn = self.windowing
        if getattr(wfn, "merging", False):
            gbk = self.group_by_key()
            agg = {"sum": sum, "min": min, "max": max, "mean": lambda v: sum(v) / len(v), "count": len}[spec]
            return gbk.map_kv_values(agg)
        exprs = {
            "sum": F.sum("value"),
            "min": F.min("value"),
            "max": F.max("value"),
            "mean": F.avg("value"),
            "count": F.count(F.lit(1)),
        }
        df = (
            self.df.groupBy("key", "win_start", "win_end")
            .agg(exprs[spec].alias("value"), F.max("event_time").alias("event_time"))
            .select("key", "value", "event_time", "win_start", "win_end")
        )
        return PCollection(self.pipeline, df, True, False, wfn, key_pickled=self.key_pickled)

    def map_kv_values(self, fn: Callable, output_type: str | None = None) -> "PCollection":
        """Map over values of a keyed PCollection, keeping keys."""
        schema = _envelope_schema(_ddl(output_type), self.schema["key"].dataType)
        return self._then(
            _FnStep("kv_values", fn), True, output_type is None, self.key_pickled, schema
        )

    def combine_globally(self, spec) -> "PCollection":
        """CombineGlobally (reference tests ray_runner_test.py:1133-1161).
        Named specs run as a native global aggregate; callables fold the
        collected iterable per window (single-key GBK)."""
        if callable(spec):
            keyed = self.map_to_kv(lambda v: (None, v))._fix_none_key()
            combined = keyed.combine_per_key(spec)
            return combined.values()
        if self.pickled:
            raise ValueError("named combiners require a typed value column")
        exprs = {
            "sum": F.sum("value"),
            "min": F.min("value"),
            "max": F.max("value"),
            "mean": F.avg("value"),
            "count": F.count(F.lit(1)),
        }
        df = self.df.groupBy("win_start", "win_end").agg(
            exprs[spec].alias("value"), F.max("event_time").alias("event_time")
        )
        return PCollection(self.pipeline, df, False, False, self.windowing)

    def _fix_none_key(self):
        return self

    def count_globally(self) -> "PCollection":
        df = self.df.groupBy("win_start", "win_end").agg(
            F.count(F.lit(1)).alias("value"), F.max("event_time").alias("event_time")
        )
        return PCollection(self.pipeline, df, False, False, self.windowing)

    def keys(self) -> "PCollection":
        df = self.df.select(F.col("key").alias("value"), *_ENVELOPE_META)
        return self._child(df, False, self.key_pickled)

    def values(self) -> "PCollection":
        df = self.df.select("value", *_ENVELOPE_META)
        return self._child(df, False, self.pickled, self.grouped)

    # -- set ops / repartition ---------------------------------------------

    def flatten_with(self, *others: "PCollection") -> "PCollection":
        """Flatten/union; heterogeneous inputs transcode to the opaque
        pickled representation (reference transcodes coders the same way,
        translator.py:419-433, test ray_runner_test.py:838-855). No
        repartition(1) — the reference's union+repartition(1) would
        serialize at scale. Keyed inputs are re-viewed as (k, v) tuple
        values first (consistently, regardless of type homogeneity), so
        flattening KV collections never silently drops keys."""
        pcs = [pc.kv_to_tuples() if pc.keyed else pc for pc in [self, *others]]
        types = {pc.schema["value"].dataType.simpleString() for pc in pcs}
        hetero = len(types) > 1 or any(pc.pickled for pc in pcs) != all(pc.pickled for pc in pcs)
        if hetero:
            pcs = [pc if pc.pickled else pc.map(lambda x: x) for pc in pcs]
        df = pcs[0].df.select("value", *_ENVELOPE_META)
        for pc in pcs[1:]:
            df = df.unionByName(pc.df.select("value", *_ENVELOPE_META))
        return PCollection(self.pipeline, df, False, pcs[0].pickled, self.windowing)

    def reshuffle(self, num_partitions: int | None = None) -> "PCollection":
        """Redistribute elements (reference translator.py:147-154 uses
        random_shuffle; here a round-robin repartition — same fusion-break
        and skew-fix effect without a data sort)."""
        df = self.df.repartition(num_partitions) if num_partitions else self.df.repartition(
            self.df.sparkSession.sparkContext.defaultParallelism
        )
        return self._child(df, self.keyed, self.pickled, self.grouped)

    def distinct(self) -> "PCollection":
        cols = (["key"] if self.keyed else []) + ["value", "win_start", "win_end"]
        df = self.df.dropDuplicates(cols)
        return self._child(df, self.keyed, self.pickled, self.grouped)

    # -- sinks / testing -----------------------------------------------------

    def write_text(self, path: str):
        """Line-per-element text sink (reference WriteToText,
        examples/word_count_metrics.py:130-134). Runs bundle finalizers
        after the write commits (files durably moved into place)."""
        if self.pickled:
            raise ValueError("write_text requires typed (string-castable) values")
        self.df.select(F.col("value").cast("string")).write.mode("overwrite").text(path)
        self.pipeline.run_finalizers()

    def to_dataframe(self) -> DataFrame:
        return self.df

    def _collect_windowed(self, limit: int | None = None, what: str = "PCollection"):
        src = self.df if limit is None else self.df.limit(limit + 1)
        collected = src.collect()
        if limit is not None and len(collected) > limit:
            raise ValueError(
                f"{what} materializes more than side_input_max_rows={limit} rows "
                f"on the driver; raise Pipeline(side_input_max_rows=...) (or the "
                f"RBRS_SIDE_INPUT_MAX_ROWS env var) if the side genuinely fits "
                f"driver memory, or switch to the join-based AsMultiMapJoined "
                f"view, which never leaves the executors"
            )
        decode = _value_decoder(self.pickled, self.grouped)
        rows = []
        for r in collected:
            d = r.asDict(recursive=True)
            elem = decode(d["value"])
            if self.keyed:
                elem = (_key_decode(d["key"]), elem)
            win = None if d.get("win_start") is None else (d["win_start"], d["win_end"])
            rows.append((elem, d["event_time"], win))
        self.pipeline.run_finalizers()  # post-commit bundle finalization
        return rows

    def collect(self) -> list:
        """Decoded elements (KV pairs as tuples; GBK values as lists)."""
        return [elem for elem, _ts, _win in self._collect_windowed()]

    def assert_that(self, expected: Iterable[Any], msg: str = ""):
        """Multiset equality on decoded elements (Beam assert_that/equal_to)."""
        actual = self.collect()
        ka = sorted((repr(_canon(e)) for e in actual))
        ke = sorted((repr(_canon(e)) for e in expected))
        if ka != ke:
            raise AssertionError(
                f"assert_that failed{': ' + msg if msg else ''}\n actual={sorted(map(repr, actual))}\n expected={sorted(map(repr, expected))}"
            )
        return True


def _canon(e):
    if isinstance(e, tuple):
        return tuple(_canon(x) for x in e)
    if isinstance(e, list):
        return tuple(sorted((repr(_canon(x)) for x in e)))
    return e


def _from_np(v):
    """numpy scalar/array → plain python (Arrow round-trip artifacts)."""
    if isinstance(v, np.generic):
        return v.item()
    if isinstance(v, np.ndarray):
        return [_from_np(x) for x in v.tolist()]
    return v


# ---------------------------------------------------------------------------
# Pipeline
# ---------------------------------------------------------------------------


class _ListAccumulator(AccumulatorParam):
    """Accumulator of lists (concatenation merge) — carries pickled
    bundle-finalization callbacks from executors to the driver."""

    def zero(self, value):
        return []

    def addInPlace(self, a, b):
        a.extend(b)
        return a


class Pipeline:
    """Entry point. Element-wise Python transforms extend a pending fused
    stage; every other transform builds its DataFrame eagerly (the lazy
    DAG is Catalyst's — reference CollectionMap parity per SURVEY §1.3)."""

    def __init__(self, spark: SparkSession, side_input_max_rows: int | None = None):
        self.spark = spark
        self.metrics = MetricsRegistry(spark)
        self._persisted: list[DataFrame] = []
        self._finalizer_acc = spark.sparkContext.accumulator([], _ListAccumulator())
        # Collect+broadcast side-input views drain the side through the
        # driver; this cap turns the silent driver-OOM a too-large side
        # causes into a loud error naming the scalable alternative
        # (AsMultiMapJoined). None -> the env/1M default; zero or negative
        # disables the guard entirely.
        if side_input_max_rows is None:
            side_input_max_rows = int(os.environ.get("RBRS_SIDE_INPUT_MAX_ROWS", "1000000"))
        self.side_input_max_rows = side_input_max_rows if side_input_max_rows > 0 else None
        self._transform_idx = 0

    def _next_label(self, kind: str, label: str | None) -> str:
        self._transform_idx += 1
        return label or f"{kind}{self._transform_idx}"

    def _observe(self, df: DataFrame, aggs: list) -> DataFrame:
        from pyspark.sql import Observation

        obs = Observation()
        self.metrics.track_observation(obs)
        return df.observe(obs, *aggs)

    def _observe_elements(self, name: str, df: DataFrame) -> DataFrame:
        """Auto per-PCollection element counts + byte sizes (reference
        ELEMENT_COUNT / SAMPLED_BYTE_SIZE monitoring infos,
        ray_fn_runner.py:462-534) for a PCollection that is its own
        DataFrame (GBK and multi-output ParDo views): an Observation
        aggregate piggybacked on the transform's own execution — no extra
        action, no extra pass. Byte size is the encoded value-column size
        (pickle/string length), summed only when the column is cheaply
        measurable (binary/string — the pickled default; typed values
        would need a to_json pass, which is not worth the hot-path cost
        the reference avoids by sampling). Fused stages count inside
        their Python pass instead (``_observe_stage``). Surfaced as
        ``metrics.query()["element_counts"|"byte_counts"]`` once an action
        has executed the plan. Streaming DataFrames don't take the
        Observation object form; they pass through unobserved."""
        if df.isStreaming:
            return df
        aggs = [F.count(F.lit(1)).alias(f"{name}.element_count")]
        if dict(df.dtypes).get("value") in ("binary", "string"):
            aggs.append(
                F.coalesce(F.sum(F.length("value")), F.lit(0)).alias(f"{name}.byte_count")
            )
        return self._observe(df, aggs)

    def _observe_stage(self, df: DataFrame, steps: tuple) -> DataFrame:
        """The same counts for the PCollections inside a fused stage, which
        never exist as DataFrames: the stage's kernel counts each step's
        outputs (and estimates their encoded sizes, the pickle length for
        opaque values, from a per-bundle sample) and emits them on marker
        rows; one Observation on the stage output sums them per step."""

        def total(i):
            return F.coalesce(F.sum(F.col(_STATS)[i]), F.lit(0))

        aggs = []
        for i, st in enumerate(steps):
            if st.name is not None:
                aggs.append(total(2 * i).alias(f"{st.name}.element_count"))
                if st.size is not None:
                    aggs.append(total(2 * i + 1).alias(f"{st.name}.byte_count"))
        return self._observe(df, aggs)

    def run_finalizers(self) -> int:
        """Invoke bundle-finalization callbacks accumulated from completed
        jobs (reference: FinalizeBundleRequest after bundle commit,
        execution.py:131-139). Called automatically by the terminal
        actions (collect / write_text); exceptions in callbacks are
        swallowed per Beam's best-effort contract (the reference's
        test_callbacks_with_exception asserts the pipeline still
        succeeds). Returns the number of callbacks invoked."""
        blobs, self._finalizer_acc.value = self._finalizer_acc.value, []
        n = 0
        for blob in blobs:
            try:
                cloudpickle.loads(blob)()
            except Exception:  # noqa: BLE001 - best-effort finalization
                pass
            n += 1
        return n

    def release(self):
        """Unpersist every DataFrame this pipeline cached (multi-output
        ParDo parents). Long-lived sessions should call this when a
        pipeline's results are no longer needed — leaked pins measurably
        degrade later queries."""
        for df in self._persisted:
            try:
                df.unpersist()
            except Exception:  # noqa: BLE001 - session may be stopped
                pass
        self._persisted.clear()

    def create(
        self,
        values: Iterable[Any],
        value_type: str | None = None,
        timestamp_fn: Callable | None = None,
    ) -> PCollection:
        """Materialize an in-memory list (reference Create,
        translator.py:105-119). ``value_type`` DDL → typed column; None →
        opaque pickled values (any Python object)."""
        values = list(values)
        ts = [float(timestamp_fn(v)) if timestamp_fn else GLOBAL_TS for v in values]
        if value_type is not None:
            v_t = T._parse_datatype_string(value_type)
            pickled = False
            data = [(v, t, None, None) for v, t in zip(values, ts)]
        else:
            v_t = T.BinaryType()
            pickled = True
            data = [(_dumps(v), t, None, None) for v, t in zip(values, ts)]
        schema = T.StructType(
            [
                T.StructField("value", v_t),
                T.StructField("event_time", T.DoubleType()),
                T.StructField("win_start", T.DoubleType()),
                T.StructField("win_end", T.DoubleType()),
            ]
        )
        df = self.spark.createDataFrame(data, schema=schema)
        return PCollection(self, df, False, pickled)

    def create_kv(
        self,
        pairs: Iterable[tuple],
        key_type: str | None = None,
        value_type: str | None = None,
        timestamp_fn: Callable | None = None,
    ) -> PCollection:
        pairs = list(pairs)
        ts = [float(timestamp_fn(p)) if timestamp_fn else GLOBAL_TS for p in pairs]
        k_t = T._parse_datatype_string(key_type) if key_type else T.BinaryType()
        v_t = T._parse_datatype_string(value_type) if value_type else T.BinaryType()
        data = [
            (
                k if key_type else _dumps(k),
                v if value_type else _dumps(v),
                t,
                None,
                None,
            )
            for (k, v), t in zip(pairs, ts)
        ]
        schema = T.StructType(
            [
                T.StructField("key", k_t),
                T.StructField("value", v_t),
                T.StructField("event_time", T.DoubleType()),
                T.StructField("win_start", T.DoubleType()),
                T.StructField("win_end", T.DoubleType()),
            ]
        )
        df = self.spark.createDataFrame(data, schema=schema)
        return PCollection(self, df, True, value_type is None, key_pickled=key_type is None)

    def impulse(self) -> PCollection:
        """Single seed element (reference translator.py:95-102)."""
        df = self.spark.range(1).select(
            F.lit(_dumps(None)).alias("value"),
            F.lit(GLOBAL_TS).alias("event_time"),
            F.lit(None).cast("double").alias("win_start"),
            F.lit(None).cast("double").alias("win_end"),
        )
        return PCollection(self, df, False, True)

    def read_text(self, path: str, skip_header_lines: int = 0) -> PCollection:
        """Text source, one element per line (reference translator.py:122-144
        including the header-skip at 138-140)."""
        df = self.spark.read.text(path)
        if skip_header_lines:
            # Per-file header skip as pure expressions (no Python RDD path):
            # header lines live only in the byte-range split that starts at
            # file offset 0, so rank rows within each (file, block) by
            # monotonically_increasing_id — increasing in read order inside a
            # partition, and a file-block's rows are contiguous in its
            # partition — and drop the first N of offset-0 blocks only.
            # Only the offset-0 blocks route through the window (headers
            # cannot live anywhere else); every other block unions back
            # untouched, so the ranking shuffle moves one leading split per
            # file, not the dataset — at 100 TB that is (files x <=128MB),
            # independent of total rows. Bound: if skip_header_lines ever
            # exceeded the line count of a file's first split
            # (multi-megabyte headers or a tiny files.maxPartitionBytes),
            # the overflow header lines would start in later blocks and
            # survive; with default 128 MB splits any realistic header fits
            # the first split, and readers needing more should strip
            # headers upstream.
            tagged = df.select(
                "value",
                F.col("_metadata.file_path").alias("_fp"),
                F.col("_metadata.file_block_start").alias("_bs"),
                F.monotonically_increasing_id().alias("_mid"),
            )
            w = W.partitionBy("_fp").orderBy("_mid")
            lead = (
                tagged.filter(F.col("_bs") == 0)
                .withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") > skip_header_lines)
                .select("value")
            )
            df = lead.unionAll(tagged.filter(F.col("_bs") != 0).select("value"))
        out = df.select(
            F.col("value").cast("string").alias("value"),
            F.lit(GLOBAL_TS).alias("event_time"),
            F.lit(None).cast("double").alias("win_start"),
            F.lit(None).cast("double").alias("win_end"),
        )
        return PCollection(self, out, False, False)

    def from_dataframe(self, df: DataFrame, value_col: str, event_time_col: str | None = None):
        """Bridge: wrap any DataFrame column as a PCollection."""
        out = df.select(
            F.col(value_col).alias("value"),
            (F.col(event_time_col).cast("double") if event_time_col else F.lit(GLOBAL_TS)).alias(
                "event_time"
            ),
            F.lit(None).cast("double").alias("win_start"),
            F.lit(None).cast("double").alias("win_end"),
        )
        return PCollection(self, out, False, False)
