"""Beam-model conformance tests, mirroring the reference suite
`/root/reference/ray_beam_runner/portability/ray_runner_test.py` scenario
by scenario (cited per test). Inputs are the same inline literals
(FIXTURES.md §B); assertions are multiset equality like Beam's
assert_that/equal_to.
"""

import pytest

from ray_beam_runner_spark.pipeline import (
    AsDict,
    AsList,
    AsMultiMap,
    AsMultiMapJoined,
    AsSingleton,
    DoFn,
    Pipeline,
    TaggedOutput,
)
from ray_beam_runner_spark.windowing import CustomMergingWindows, FixedWindows, Sessions, SlidingWindows


@pytest.fixture()
def p(spark):
    return Pipeline(spark)


# -- create / pardo / map / flatmap / filter (ray_runner_test.py:109-141) --


def test_create(p):
    p.create(["a", "b"]).assert_that(["a", "b"])


def test_create_typed(p):
    p.create([1, 2, 3], value_type="bigint").assert_that([1, 2, 3])


def test_assert_that_fails(p):
    with pytest.raises(AssertionError):
        p.create(["a", "b"]).assert_that(["a"])


def test_pardo(p):
    # ray_runner_test.py:118-126: chained ParDo str concat
    pc = p.create(["a", "b"])
    pc.map(lambda x: x + "x").map(lambda x: x + "y").assert_that(["axy", "bxy"])


def test_flat_map(p):
    # ray_runner_test.py:128-141 style 1->N
    p.create(["xy", "z"]).flat_map(list).assert_that(["x", "y", "z"])


def test_filter(p):
    p.create([1, 2, 3, 4]).filter(lambda x: x % 2 == 0).assert_that([2, 4])


def test_filter_typed(p):
    p.create([1, 2, 3, 4], value_type="bigint").filter(lambda x: x % 2 == 0).assert_that([2, 4])


def test_select_expr_typed_fast_path(p):
    p.create([1, 2, 3], value_type="bigint").select_expr("value * 10 AS value").assert_that(
        [10, 20, 30]
    )


def test_pardo_heterogeneous_objects(p):
    # arbitrary pickled python objects flow through
    p.create([{"a": 1}, (1, 2), None, 3.5]).map(lambda x: x).assert_that(
        [{"a": 1}, (1, 2), None, 3.5]
    )


def test_dofn_lifecycle(p):
    # translator.py:283-326 lifecycle hooks; finish_bundle emissions counted
    class LifecycleFn(DoFn):
        def setup(self):
            self.ready = True

        def start_bundle(self):
            self.n = 0

        def process(self, element, timestamp=None, window=None, **side):
            assert self.ready
            self.n += 1
            yield element * 2

        def finish_bundle(self):
            return [TaggedOutput("bundle_counts", self.n)] if self.n else []

    out = p.create([1, 2, 3], value_type="bigint").par_do(
        LifecycleFn(), output_type="bigint", outputs=("bundle_counts",)
    )
    out["main"].assert_that([2, 4, 6])
    # bundle counts sum to the element count regardless of partitioning
    assert sum(out["bundle_counts"].collect()) == 3


# -- tagged outputs (ray_runner_test.py:128-161, 1285-1311) --


def test_multi_output_pardo(p):
    class SplitFn(DoFn):
        def process(self, element, timestamp=None, window=None, **side):
            if element % 2 == 0:
                yield TaggedOutput("even", element)
            else:
                yield element

    outs = p.create([1, 2, 3, 4], value_type="bigint").par_do(
        SplitFn(), output_type="bigint", outputs=("even",)
    )
    outs["main"].assert_that([1, 3])
    outs["even"].assert_that([2, 4])


# -- side inputs (ray_runner_test.py:163-361) --


def test_side_input_list(p):
    side = p.create([1, 2, 3])
    main = p.create([10, 20])

    class AddAll(DoFn):
        def process(self, element, timestamp=None, window=None, s=None):
            yield element + sum(s)

    main.par_do(AddAll(), side_inputs={"s": AsList(side)}).assert_that([16, 26])


def test_side_input_singleton(p):
    side = p.create([7])
    p.create([1, 2]).par_do(
        _add_side(), side_inputs={"s": AsSingleton(side)}
    ).assert_that([8, 9])


def test_side_input_dict(p):
    side = p.create([("a", 1), ("b", 2)])
    main = p.create(["a", "b", "a"])

    class Lookup(DoFn):
        def process(self, element, timestamp=None, window=None, d=None):
            yield d[element]

    main.par_do(Lookup(), side_inputs={"d": AsDict(side)}).assert_that([1, 2, 1])


def test_side_input_multimap(p):
    # ray_runner_test.py:285-335
    side = p.create([("a", 1), ("a", 2), ("b", 3)])
    main = p.create(["a", "b"])

    class Lookup(DoFn):
        def process(self, element, timestamp=None, window=None, mm=None):
            yield (element, sorted(mm[element]))

    main.par_do(Lookup(), side_inputs={"mm": AsMultiMap(side)}).assert_that(
        [("a", [1, 2]), ("b", [3])]
    )


def test_side_input_size_guard(spark):
    # a too-large collect+broadcast side must fail loudly, not driver-OOM
    from ray_beam_runner_spark.pipeline import Pipeline as Pl

    small = Pl(spark, side_input_max_rows=3)
    side = small.create([1, 2, 3, 4, 5])
    main = small.create([10])

    class AddAll(DoFn):
        def process(self, element, timestamp=None, window=None, s=None):
            yield element + sum(s)

    with pytest.raises(ValueError, match="side_input_max_rows"):
        main.par_do(AddAll(), side_inputs={"s": AsList(side)}).collect()
    # plain collect() of a large PCollection stays uncapped
    assert sorted(side.collect()) == [1, 2, 3, 4, 5]


def test_joined_multimap_side_input(p):
    # join-based large-side path: same semantics as AsMultiMap for
    # own-key lookups (ray_runner_test.py:285-335 shape), no driver
    # materialization of the side
    side = p.create([("a", 1), ("a", 2), ("b", 3)])
    main = p.create(["a", "b", "c"])

    class Lookup(DoFn):
        def process(self, element, timestamp=None, window=None, mm=None):
            yield (element, sorted(mm[element]))

    main.par_do(Lookup(), side_inputs={"mm": AsMultiMapJoined(side)}).assert_that(
        [("a", [1, 2]), ("b", [3]), ("c", [])]  # missing key -> empty list
    )


def test_joined_multimap_keyed_main_and_wrong_key(p):
    side = p.create([(1, "x"), (2, "y")])
    # keyed main: the join key is the element's key column
    main = p.create([(1, 10), (2, 20), (3, 30)]).map_to_kv(lambda kv: kv)

    class Enrich(DoFn):
        def process(self, element, timestamp=None, window=None, mm=None):
            k, v = element
            if k == 3:
                # lookups beyond the element's own key must be loud
                try:
                    mm[1]
                    yield (k, "no-error")
                except KeyError:
                    yield (k, "keyerror")
            else:
                yield (k, (mm[k], v))

    main.par_do(Enrich(), side_inputs={"mm": AsMultiMapJoined(side)}).assert_that(
        [(1, (["x"], 10)), (2, (["y"], 20)), (3, "keyerror")]
    )


def test_joined_multimap_type_mismatch_raises(p):
    # typed main vs pickled side keys would silently match nothing —
    # must be a loud error instead
    side = p.create([("a", 1)])  # pickled keys
    main = p.create(["a"]).map(lambda x: x, output_type="string")  # typed values

    class Lookup(DoFn):
        def process(self, element, timestamp=None, window=None, mm=None):
            yield element

    with pytest.raises(ValueError, match="key type mismatch"):
        main.par_do(Lookup(), side_inputs={"mm": AsMultiMapJoined(side)})


def test_joined_multimap_rejects_non_kv_side(p):
    # a typed scalar side can't be interpreted as (key, value) pairs
    typed = p.create([1, 2, 3]).map(lambda x: x, output_type="long")
    with pytest.raises(ValueError, match="keyed"):
        AsMultiMapJoined(typed)


def test_windowed_side_input(p):
    # ray_runner_test.py:220-251: side input matched per window
    main = p.create(range(9), timestamp_fn=lambda v: v).window_into(FixedWindows(5))
    side = p.create([10, 20], timestamp_fn=lambda v: 0 if v == 10 else 5).window_into(
        FixedWindows(5)
    )

    class AddSide(DoFn):
        def process(self, element, timestamp=None, window=None, s=None):
            yield element + s[0]

    main.par_do(AddSide(), side_inputs={"s": AsList(side)}).assert_that(
        [10, 11, 12, 13, 14, 25, 26, 27, 28]
    )


def _add_side():
    class AddS(DoFn):
        def process(self, element, timestamp=None, window=None, s=None):
            yield element + s

    return AddS()


# -- GBK / combine (ray_runner_test.py:821-829, 857-864, 1108-1185) --


def test_group_by_key(p):
    pc = p.create_kv([("a", 1), ("a", 2), ("b", 3)], key_type="string", value_type="bigint")
    pc.group_by_key().assert_that([("a", [1, 2]), ("b", [3])])


def test_group_by_key_pickled(p):
    # tuple keys / arbitrary values, the KeyWrapper case (translator.py:353-361)
    pc = p.create_kv([((1, "x"), "u"), ((1, "x"), "v"), (None, "w")])
    pc.group_by_key().assert_that([((1, "x"), ["u", "v"]), (None, ["w"])])


def test_combine_per_key_mean(p):
    # ray_runner_test.py:857-864 (Combine.perKey(mean))
    pc = p.create_kv(
        [("a", 1.0), ("a", 3.0), ("b", 10.0)], key_type="string", value_type="double"
    )
    pc.combine_per_key("mean").assert_that([("a", 2.0), ("b", 10.0)])


def test_combine_per_key_callable(p):
    pc = p.create_kv([("a", 1), ("a", 2), ("b", 3)], key_type="string", value_type="bigint")
    pc.combine_per_key(lambda vs: max(vs)).assert_that([("a", 2), ("b", 3)])


def test_combine_globally(p):
    # ray_runner_test.py:1133-1161 (min / max packed)
    pc = p.create(list(range(10)), value_type="bigint")
    pc.combine_globally("min").assert_that([0])
    pc.combine_globally("max").assert_that([9])
    pc.combine_globally(lambda vs: sum(vs)).assert_that([45])


def test_count_globally(p):
    # ray_runner_test.py:1108-1115
    p.create(list(range(7))).count_globally().assert_that([7])


def test_wordcount(p):
    # the reference's canonical e2e (examples/word_count_metrics.py:110-134)
    lines = ["the cat", "the dog", "cat"]
    counts = (
        p.create(lines)
        .flat_map(lambda l: l.split())
        .map_to_kv(lambda w: (w, 1), key_type="string", value_type="bigint")
        .combine_per_key("sum")
    )
    counts.assert_that([("the", 2), ("cat", 2), ("dog", 1)])


# -- flatten / reshuffle / distinct (ray_runner_test.py:832-855) --


def test_flatten(p):
    a, b = p.create(["a"]), p.create(["b", "c"])
    a.flatten_with(b).assert_that(["a", "b", "c"])


def test_flatten_heterogeneous(p):
    # ray_runner_test.py:838-855 flattens str with int (coder transcoding)
    a = p.create(["a"], value_type="string")
    b = p.create([100], value_type="bigint")
    a.flatten_with(b).assert_that(["a", 100])


def test_reshuffle(p):
    # translator.py:147-154; content-preserving redistribution
    p.create(list(range(20)), value_type="bigint").reshuffle(5).assert_that(list(range(20)))


def test_distinct(p):
    p.create([1, 2, 2, 3, 3, 3], value_type="bigint").distinct().assert_that([1, 2, 3])


# -- windowing (ray_runner_test.py:880-908, 2028-2047) --


def test_fixed_windows_gbk(p):
    pc = p.create_kv(
        [("k", 1), ("k", 2), ("k", 6)],
        key_type="string",
        value_type="bigint",
        timestamp_fn=lambda kv: kv[1],
    )
    out = pc.window_into(FixedWindows(5)).group_by_key()
    out.assert_that([("k", [1, 2]), ("k", [6])])


def test_sliding_windows(p):
    # size 4 period 2: t=3 belongs to [0,4) and [2,6)
    pc = p.create_kv(
        [("k", 3)], key_type="string", value_type="bigint", timestamp_fn=lambda kv: kv[1]
    )
    out = pc.window_into(SlidingWindows(4, 2)).group_by_key()
    out.assert_that([("k", [3]), ("k", [3])])


def test_session_windows(p):
    # ray_runner_test.py:880-890: [1,2,100,101,102] gap 10 -> [1,2] + [100,101,102]
    data = [1, 2, 100, 101, 102]
    pc = p.create_kv(
        [("k", t) for t in data], key_type="string", value_type="bigint", timestamp_fn=lambda kv: kv[1]
    )
    out = pc.window_into(Sessions(10)).group_by_key()
    out.assert_that([("k", [1, 2]), ("k", [100, 101, 102])])


def test_custom_merging_windows(p):
    # ray_runner_test.py:892-908, 2028-2047: merge all even-timestamp
    # elements into one window, odd ones stay alone.
    def assign(ts):
        return [(ts, ts + 1)]

    def merge(windows):
        evens = [w for w in windows if w[0] % 2 == 0]
        odds = [w for w in windows if w[0] % 2 == 1]
        out = list(odds)
        if evens:
            out.append((min(w[0] for w in evens), max(w[1] for w in evens)))
        return out

    data = [1, 2, 100, 101, 102]
    pc = p.create_kv(
        [("k", t) for t in data], key_type="string", value_type="bigint", timestamp_fn=lambda kv: kv[1]
    )
    out = pc.window_into(CustomMergingWindows(assign, merge)).group_by_key()
    out.assert_that([("k", [1]), ("k", [101]), ("k", [2, 100, 102])])


def test_windowed_combine(p):
    pc = p.create_kv(
        [("k", 1), ("k", 2), ("k", 6)],
        key_type="string",
        value_type="bigint",
        timestamp_fn=lambda kv: kv[1],
    )
    pc.window_into(FixedWindows(5)).combine_per_key("sum").assert_that([("k", 3), ("k", 6)])


def test_timestamp_and_window_params(p):
    # reified timestamp/window access (ray_runner_test.py:422, 455, 493)
    class ReifyFn(DoFn):
        def process(self, element, timestamp=None, window=None, **side):
            yield (element, timestamp, window)

    out = (
        p.create([5], value_type="bigint", timestamp_fn=lambda v: v)
        .window_into(FixedWindows(10))
        .par_do(ReifyFn())
    )
    out.assert_that([(5, 5.0, (0.0, 10.0))])


# -- sources / sinks --


def test_impulse(p):
    p.impulse().map(lambda _: "seeded").assert_that(["seeded"])


def test_read_text(p, tmp_path):
    # ray_runner_test.py:866-878
    f = tmp_path / "in.txt"
    f.write_text("a\nb\nc\n")
    p.read_text(str(f)).assert_that(["a", "b", "c"])


def test_read_text_skip_header(p, tmp_path):
    # legacy RayRead header skip (translator.py:138-140)
    f = tmp_path / "in.txt"
    f.write_text("header\na\nb\n")
    p.read_text(str(f), skip_header_lines=1).assert_that(["a", "b"])


def test_write_text(p, tmp_path, spark):
    out = tmp_path / "out"
    p.create(["x", "y"], value_type="string").write_text(str(out))
    lines = sorted(r.value for r in spark.read.text(str(out)).collect())
    assert lines == ["x", "y"]


def test_exception_handling_dead_letter(p):
    # Beam with_exception_handling: failing elements route to 'error'
    # instead of failing the job; their partial outputs are discarded
    class Flaky(DoFn):
        def process(self, element, timestamp=None, window=None, **side):
            yield element * 10  # emitted BEFORE the failure — must be discarded
            if element == 3:
                raise ValueError("boom on 3")

    outs = p.create([1, 2, 3]).par_do(Flaky(), exception_handling=True)
    outs["main"].assert_that([10, 20])  # 3's partial output (30) dropped
    errors = outs["error"].collect()
    assert len(errors) == 1
    elem, msg = errors[0]
    assert elem == 3 and "boom on 3" in msg
    p.release()


def test_exception_handling_with_typed_output_and_tags(p):
    class Route(DoFn):
        def process(self, element, timestamp=None, window=None, **side):
            if element == "bad":
                raise RuntimeError("nope")
            if element.startswith("x"):
                yield TaggedOutput("xs", element.upper())
            else:
                yield element

    outs = p.create(["a", "xb", "bad", "c"]).par_do(
        Route(), output_type="string", outputs=("xs",), exception_handling=True
    )
    outs["main"].assert_that(["a", "c"])
    outs["xs"].assert_that(["XB"])
    assert [e for e, _ in outs["error"].collect()] == ["bad"]
    p.release()


def test_exception_handling_reserves_error_tag(p):
    with pytest.raises(ValueError, match="reserve"):
        p.create([1]).par_do(DoFn(), outputs=("error",), exception_handling=True)

    class EmitsError(DoFn):
        def process(self, element, timestamp=None, window=None, **side):
            yield TaggedOutput("error", element)

    outs = p.create([1]).par_do(EmitsError(), exception_handling=True)
    # the misuse must FAIL the job, not land in the dead-letter output
    with pytest.raises(Exception, match="reserved"):
        outs["main"].collect()
    p.release()


# -- metrics (ray_runner_test.py:985-1019) --


def test_metrics(p):
    counter = p.metrics.counter("chars")
    dist = p.metrics.distribution("len")

    class MetricFn(DoFn):
        def process(self, element, timestamp=None, window=None, **side):
            counter.inc(len(element))
            dist.update(len(element))
            yield element

    p.create(["a", "zzz", "xy"]).par_do(MetricFn()).collect()
    q = p.metrics.query()
    assert q["counters"]["chars"] == 6
    assert q["distributions"]["len"] == {"count": 3, "sum": 6, "min": 1, "max": 3}


def test_gauge_last_write_wins(p):
    # reference gauge semantics: the LAST reported value, not an aggregate
    gauge = p.metrics.gauge("watermark")

    class GaugeFn(DoFn):
        def process(self, element, timestamp=None, window=None, **side):
            gauge.set(element)
            yield element

    p.create([5, 1, 9, 3]).par_do(GaugeFn()).collect()
    g = p.metrics.query()["gauges"]["watermark"]
    assert g["value"] in {5, 1, 9, 3}  # one of the written values...
    assert g["timestamp"] is not None  # ...stamped with its update time
    # deterministic last-write check: single partition, ordered writes
    gauge2 = p.metrics.gauge("serial")

    class SerialFn(DoFn):
        def process(self, element, timestamp=None, window=None, **side):
            gauge2.set(element)
            yield element

    pc = p.create([10, 20, 30])
    pc.df = pc.df.coalesce(1).sortWithinPartitions("value")
    pc.par_do(SerialFn()).collect()
    assert p.metrics.query()["gauges"]["serial"]["value"] == 30


def test_auto_element_counts(p):
    # reference ELEMENT_COUNT monitoring infos (ray_runner_test.py:1195-
    # 1615): every ParDo/GBK output reports its exact element count with
    # no user code — here a WordCount-shaped pipeline
    lines = ["the cat", "the dog", "cat"]
    words = p.create(lines).flat_map(lambda l: l.split(), output_type=None)
    counts = (
        words.map_to_kv(lambda w: (w, 1), key_type="string", value_type="bigint")
        .group_by_key()
        .map_kv_values(sum, output_type="bigint")
    )
    counts.assert_that([("the", 2), ("cat", 2), ("dog", 1)])
    q = p.metrics.query()
    ec = q["element_counts"]
    assert 5 in ec.values(), ec  # the flat_map output: 5 words
    gbk = [v for k, v in ec.items() if k.startswith("GroupByKey")]
    assert gbk == [3], ec  # 3 distinct keys out of the GBK
    # pickled outputs also report encoded byte sizes (SAMPLED_BYTE_SIZE
    # analog); every observed byte count is positive for non-empty output
    bc = q["byte_counts"]
    assert bc and all(v > 0 for v in bc.values()), bc
    # an un-executed plan's observation must not block query()
    p.create([1, 2, 3]).map(lambda x: x)
    p.metrics.query()


def test_error_propagates(p):
    # ray_runner_test.py:951-973: user exceptions surface with traceback
    class Boom(DoFn):
        def process(self, element, timestamp=None, window=None, **side):
            raise ValueError("boom")
            yield element

    with pytest.raises(Exception, match="boom"):
        p.create([1]).par_do(Boom()).collect()


# -- CoGroupByKey (reference expands to Flatten+GBK; SURVEY §2.3) --


def test_co_group_by_key(p):
    a = p.create_kv([("a", 1), ("a", 2), ("b", 3)], key_type="string", value_type="bigint")
    b = p.create_kv([("a", "x"), ("c", "y")], key_type="string", value_type="string")
    # heterogeneous value types -> transcode left to pickled for the join
    a2 = a.map_kv_values(lambda v: v)  # pickled values
    b2 = b.map_kv_values(lambda v: v)
    out = a2.co_group_by_key(b2)
    out.assert_that(
        [("a", ([1, 2], ["x"])), ("b", ([3], [])), ("c", ([], ["y"]))]
    )


# -- regression tests for review findings --


def test_filter_keyed(p):
    # filter on a keyed PCollection must preserve keys (typed and pickled)
    pc = p.create_kv([("a", 1), ("b", 2), ("c", 3)], key_type="string", value_type="bigint")
    pc.filter(lambda kv: kv[1] % 2 == 1).assert_that([("a", 1), ("c", 3)])
    pk = p.create_kv([((1, 2), "x"), ((3, 4), "y")])
    pk.filter(lambda kv: kv[0][0] == 1).assert_that([((1, 2), "x")])


def test_empty_side_input_views(p):
    # empty side views deliver the view type's empty container, not None
    empty = p.create([])
    empty_kv = p.create([]).map_to_kv(lambda v: v)

    class UseSides(DoFn):
        def process(self, element, timestamp=None, window=None, lst=None, d=None):
            yield (element, list(lst), dict(d))

    out = p.create([1], value_type="bigint").par_do(
        UseSides(), side_inputs={"lst": AsList(empty), "d": AsDict(empty_kv)}
    )
    out.assert_that([(1, [], {})])


def test_co_group_mixed_representations(p):
    # typed bigint values on one side, typed string on the other:
    # co_group_by_key must transcode internally (no manual prep)
    a = p.create_kv([("k", 1), ("k", 2)], key_type="string", value_type="bigint")
    b = p.create_kv([("k", "x"), ("z", "y")], key_type="string", value_type="string")
    a.co_group_by_key(b).assert_that([("k", ([1, 2], ["x"])), ("z", ([], ["y"]))])


def test_co_group_sessions_merge_across_inputs(p):
    # Beam semantics: one session spanning elements of BOTH inputs is ONE
    # group (windows merge across inputs, not per side)
    a = p.create_kv(
        [("k", 0), ("k", 8)], key_type="string", value_type="bigint",
        timestamp_fn=lambda kv: kv[1],
    ).window_into(Sessions(10))
    b = p.create_kv(
        [("k", 5), ("k", 100)], key_type="string", value_type="bigint",
        timestamp_fn=lambda kv: kv[1],
    ).window_into(Sessions(10))
    a.co_group_by_key(b).assert_that([("k", ([0, 8], [5])), ("k", ([], [100]))])


def test_flatten_keyed_preserves_keys(p):
    # flattening keyed collections yields (k, v) tuples, never bare values —
    # regardless of value-type homogeneity
    a = p.create_kv([("a", 1)], key_type="string", value_type="bigint")
    b = p.create_kv([("b", 2)], key_type="string", value_type="bigint")
    a.flatten_with(b).assert_that([("a", 1), ("b", 2)])
    c = p.create_kv([("c", "s")], key_type="string", value_type="string")
    a.flatten_with(c).assert_that([("a", 1), ("c", "s")])


def test_rewindow_clears_stale_windows(p):
    # fixed -> sessions re-windowing must not leak the fixed win bounds
    class ReifyWin(DoFn):
        def process(self, element, timestamp=None, window=None, **side):
            yield (element, window)

    pc = p.create([3], value_type="bigint", timestamp_fn=lambda v: v)
    out = pc.window_into(FixedWindows(60)).window_into(Sessions(10)).par_do(ReifyWin())
    # merging windows materialize at GBK; before that the element is unwindowed
    out.assert_that([(3, None)])


def test_diamond_side_input_topology(p):
    # 'unfusable' diamond (ray_runner_test.py:337-361): the side input is
    # derived from the same upstream as the main input
    base = p.create([1, 2, 3], value_type="bigint")
    side = base.combine_globally("sum")  # 6

    class AddTotal(DoFn):
        def process(self, element, timestamp=None, window=None, total=None):
            yield element + total

    base.par_do(AddTotal(), side_inputs={"total": AsSingleton(side)}).assert_that([7, 8, 9])


# -- ADVICE r1 regression tests --------------------------------------------


def test_pardo_keyed_output(p):
    # par_do(keyed_output=True): DoFn emits (k, v); the result must be a
    # real keyed PCollection usable by downstream keyed ops
    class ToKV(DoFn):
        def process(self, element, timestamp=None, window=None, **side):
            yield (element % 2, element)

    pc = p.create([1, 2, 3, 4], value_type="bigint").par_do(
        ToKV(), output_type="bigint", keyed_output=True, key_type="bigint"
    )
    pc.group_by_key().assert_that([(0, [2, 4]), (1, [1, 3])])
    # pickled-key variant
    pk = p.create([1, 2], value_type="bigint").par_do(ToKV(), keyed_output=True)
    pk.map_kv_values(lambda v: v * 10).assert_that([(1, 10), (0, 20)])


def test_sliding_windows_period_gt_size(p):
    # valid Beam config where some elements belong to ZERO windows:
    # size 2, period 4 -> t=1 in [0,2); t=3 in no window (dropped)
    pc = p.create_kv(
        [("k", 1), ("k", 3)], key_type="string", value_type="bigint",
        timestamp_fn=lambda kv: kv[1],
    )
    out = pc.window_into(SlidingWindows(2, 4)).group_by_key()
    out.assert_that([("k", [1])])


def test_typed_keys_survive_gbk_and_combine(p):
    # key_pickled must propagate through GBK / combine_per_key so .keys()
    # on typed-key results doesn't try to unpickle longs
    pc = p.create_kv([(1, 10), (1, 20), (2, 30)], key_type="bigint", value_type="bigint")
    assert sorted(pc.group_by_key().keys().collect()) == [1, 2]
    assert sorted(pc.combine_per_key("sum").keys().collect()) == [1, 2]


def test_windowed_side_input_maps_via_max_timestamp(p):
    # main windows coarser than side windows: Beam's default window
    # mapping delivers the side window containing the MAIN window's max
    # timestamp (its end - 1us), i.e. the LAST overlapping side window
    main = p.create([0], timestamp_fn=lambda v: 0).window_into(FixedWindows(10))
    side = p.create([100, 200], timestamp_fn=lambda v: 1 if v == 100 else 6).window_into(
        FixedWindows(5)
    )

    class AddSide(DoFn):
        def process(self, element, timestamp=None, window=None, s=None):
            yield element + s[0]

    # main window [0,10) max-ts probe 9.999999 -> side window [5,10) -> 200
    main.par_do(AddSide(), side_inputs={"s": AsList(side)}).assert_that([200])


# -- batch bundle finalization (reference execution.py:131-139; tests
#    ray_runner_test.py:1021-1081) ------------------------------------------


def test_bundle_finalization_after_commit(p, tmp_path):
    marker = tmp_path / "finalized.txt"

    class FinalizableDoFn(DoFn):
        def process(self, element, timestamp=None, window=None, bundle_finalizer=None, **side):
            bundle_finalizer.register(
                lambda: open(marker, "a").write(f"finalized\n")
            )
            yield element

    pc = p.create(["1", "2"]).par_do(FinalizableDoFn())
    # finalization must not run before the terminal action commits
    assert not marker.exists()
    pc.assert_that(["1", "2"])  # collect() = durable commit
    assert marker.exists() and "finalized" in marker.read_text()


def test_bundle_finalization_exception_does_not_fail(p, tmp_path):
    # reference test_callbacks_with_exception: a raising callback must not
    # fail the pipeline
    marker = tmp_path / "ok.txt"

    class RaisingDoFn(DoFn):
        def process(self, element, timestamp=None, window=None, bundle_finalizer=None, **side):
            bundle_finalizer.register(lambda: 1 / 0)
            bundle_finalizer.register(lambda: open(marker, "w").write("ok"))
            yield element

    p.create(["1", "2"]).par_do(RaisingDoFn()).assert_that(["1", "2"])
    assert marker.exists()  # later callbacks still ran


def test_bundle_finalization_unpicklable_callback_dropped(p, tmp_path):
    # Callbacks cross a process boundary (executor -> driver), so an
    # unpicklable one (e.g. closing over an open file handle) must be
    # dropped best-effort, not fail the task with a cloudpickle error.
    marker = tmp_path / "picklable_ran.txt"

    class MixedDoFn(DoFn):
        def process(self, element, timestamp=None, window=None, bundle_finalizer=None, **side):
            handle = open(__file__, "rb")  # unpicklable worker-local resource

            def bad():  # pragma: no cover - never shippable
                handle.read()

            bundle_finalizer.register(bad)
            bundle_finalizer.register(lambda: open(marker, "w").write("ok"))
            yield element

    p.create(["1", "2"]).par_do(MixedDoFn()).assert_that(["1", "2"])
    assert marker.exists()  # the picklable callback still ran


def test_bundle_finalization_on_write_text(p, tmp_path):
    marker = tmp_path / "sink_finalized.txt"
    out_dir = str(tmp_path / "out")

    class FinalizableDoFn(DoFn):
        def process(self, element, timestamp=None, window=None, bundle_finalizer=None, **side):
            bundle_finalizer.register(lambda: open(marker, "w").write("done"))
            yield element

    pc = p.create(["a", "b"]).par_do(FinalizableDoFn(), output_type="string")
    pc.write_text(out_dir)
    assert marker.exists()


# -- stage fusion: a chain of element-wise transforms is one Python pass --


def _map_in_pandas_nodes(pc) -> int:
    return pc.to_dataframe()._jdf.queryExecution().executedPlan().toString().count("MapInPandas")


def test_fused_wordcount_is_one_python_pass(p):
    # ParDo -> map -> (key, value) split: one mapInPandas, not three
    class Split(DoFn):
        def process(self, element, timestamp=None, window=None, **side):
            yield from element.split()

    words = p.create(["the cat", "the dog", "cat"], value_type="string").par_do(Split())
    kv = words.map_to_kv(lambda w: (w, 1), key_type="string", value_type="bigint")
    assert _map_in_pandas_nodes(kv) == 1
    counts = kv.combine_per_key("sum")
    assert _map_in_pandas_nodes(counts) == 1
    counts.assert_that([("the", 2), ("cat", 2), ("dog", 1)])


def test_multi_output_gbk_and_joined_side_split_the_chain(p):
    class Route(DoFn):
        def process(self, element, timestamp=None, window=None, **side):
            yield TaggedOutput("odd", element) if element % 2 else element

    base = p.create([1, 2, 3, 4], value_type="bigint").map(lambda x: x + 10)
    # input chain, the persisted multi-output pass, the chain after it
    outs = base.par_do(Route(), outputs=("odd",))
    even = outs["main"].map(lambda x: x * 2)
    assert _map_in_pandas_nodes(even) == 3
    even.assert_that([24, 28])
    # chain before the GBK, chain after it
    grouped = base.map_to_kv(lambda x: (x % 2, x)).group_by_key().map_kv_values(sorted)
    assert _map_in_pandas_nodes(grouped) == 2
    grouped.assert_that([(0, [12, 14]), (1, [11, 13])])
    # main chain before the join, side (k, v) split, joined stage + map
    side = p.create([(11, "x"), (12, "y")])

    class Lookup(DoFn):
        def process(self, element, timestamp=None, window=None, mm=None):
            yield (element, mm[element])

    joined = base.map(lambda x: x).par_do(
        Lookup(), side_inputs={"mm": AsMultiMapJoined(side)}
    ).map(lambda kv: (kv[0], len(kv[1])))
    assert _map_in_pandas_nodes(joined) == 3
    joined.assert_that([(11, 1), (12, 1), (13, 0), (14, 0)])
    p.release()


def test_fused_dofn_lifecycle_order(p, tmp_path):
    # Beam's bundle order: consumers set up and start first, producers
    # finish first, and step 1's finish_bundle output is processed by
    # step 2 before step 2 finishes. The steps log to one file (each
    # DoFn is its own object in the worker).
    path = str(tmp_path / "lifecycle.log")

    def log(event):
        with open(path, "a") as f:
            f.write(event + "\n")

    class First(DoFn):
        def setup(self):
            log("setup1")

        def start_bundle(self):
            log("start1")

        def process(self, element, timestamp=None, window=None, **side):
            log(f"process1:{element}")
            yield element

        def finish_bundle(self):
            log("finish1")
            return ["flushed"]

    class Second(DoFn):
        def setup(self):
            log("setup2")

        def start_bundle(self):
            log("start2")

        def process(self, element, timestamp=None, window=None, **side):
            log(f"process2:{element}")
            yield element

        def finish_bundle(self):
            log("finish2")
            with open(path) as f:
                return [tuple(f.read().split())]

    out = p.create(["a"]).reshuffle(1).par_do(First()).par_do(Second())
    assert _map_in_pandas_nodes(out) == 1
    out.assert_that([
        "a",
        "flushed",
        (
            "setup2", "setup1", "start2", "start1",
            "process1:a", "process2:a",
            "finish1", "process2:flushed", "finish2",
        ),
    ])


def test_dofn_reused_in_one_chain_is_two_instances(p):
    # as in Beam (and as with one pass per transform), applying the same
    # DoFn object twice gives each application its own state
    class Seen(DoFn):
        def start_bundle(self):
            self.seen = []

        def process(self, element, timestamp=None, window=None, **side):
            self.seen.append(element)
            yield element

        def finish_bundle(self):
            return [("seen", tuple(self.seen))]

    seen = Seen()
    out = p.create(["a"]).reshuffle(1).par_do(seen).par_do(seen)
    out.assert_that([
        "a",
        ("seen", ("a",)),
        ("seen", ("a", ("seen", ("a",)))),
    ])


def test_user_code_is_captured_when_the_transform_is_applied(p):
    # as Beam's ParDo pickles its fn when built: driver state changed
    # after a transform is applied must not reach it, even though a fused
    # chain only builds its DataFrame later
    base = p.create([1], value_type="bigint")
    branches = [base.map(lambda x: x + i) for i in range(3)]
    branches[0].flatten_with(*branches[1:]).assert_that([1, 2, 3])

    class AddN(DoFn):
        def __init__(self, n):
            self.n = n

        def process(self, element, timestamp=None, window=None, **side):
            yield element + self.n

    add = AddN(10)
    first = base.par_do(add)
    add.n = 100
    second = first.par_do(add)
    add.n = 1000
    first.assert_that([11])
    second.assert_that([111])


def test_unencodable_output_is_a_dead_letter(p):
    # under exception_handling an output that fails to encode dead-letters
    # its element, and the element's other outputs are dropped with it
    class EmitsLambda(DoFn):
        def process(self, element, timestamp=None, window=None, **side):
            yield element
            if element == 2:
                yield lambda: element  # plain pickle cannot encode it

    outs = p.create([1, 2, 3]).par_do(EmitsLambda(), exception_handling=True)
    outs["main"].assert_that([1, 3])
    assert [e for e, _ in outs["error"].collect()] == [2]
    p.release()


def test_fused_chain_element_and_byte_counts(p):
    import pickle

    words = p.create(["a bb", "ccc"], value_type="string").flat_map(str.split)  # ParDo1
    upper = words.filter(lambda w: w != "bb").map(str.upper, output_type="string")  # ParDo2
    pairs = upper.map(lambda w: (w, 1))  # ParDo3
    names = {"ParDo1.out", "ParDo2.out", "ParDo3.out"}
    assert not names & set(p.metrics.query()["element_counts"])  # before the action
    pairs.assert_that([("A", 1), ("CCC", 1)])
    q = p.metrics.query()

    def size(v):
        return len(pickle.dumps(v, pickle.HIGHEST_PROTOCOL))

    assert {n: q["element_counts"][n] for n in names} == {
        "ParDo1.out": 3, "ParDo2.out": 2, "ParDo3.out": 2,
    }
    assert {n: q["byte_counts"][n] for n in names} == {
        "ParDo1.out": size("a") + size("bb") + size("ccc"),
        "ParDo2.out": len("A") + len("CCC"),  # typed string: its length
        "ParDo3.out": size(("A", 1)) + size(("CCC", 1)),
    }


def test_dead_letters_after_a_fused_chain(p):
    class Flaky(DoFn):
        def process(self, element, timestamp=None, window=None, **side):
            yield element * 10
            if element == 4:
                raise ValueError("boom on 4")

    outs = p.create([1, 2, 3]).map(lambda x: x * 2).par_do(Flaky(), exception_handling=True)
    outs["main"].assert_that([20, 60])
    assert outs["error"].collect() == [(4, "ValueError('boom on 4')")]
    outs["error"].map(lambda e: e[0]).assert_that([4])
    p.release()


def test_unexecuted_chains_do_not_block_metrics(p):
    pending = p.create([1, 2, 3]).map(lambda x: x + 1).map(lambda x: x * 2)
    pending.map(str)  # never built
    pending.to_dataframe()  # built, never executed
    q = p.metrics.query()
    assert q["element_counts"] == {} and q["byte_counts"] == {}


def test_streaming_dataframe_through_a_fused_chain(p, spark, tmp_path):
    src = str(tmp_path / "src")
    spark.createDataFrame([("a b",), ("c",)], "text string").write.parquet(src)
    stream = spark.readStream.schema("text string").parquet(src)
    out = (
        p.from_dataframe(stream, "text")
        .flat_map(str.split)
        .map(str.upper, output_type="string")
        .to_dataframe()
    )
    assert out.isStreaming
    q = (
        out.select("value").writeStream.format("memory").queryName("fused_stream")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    assert sorted(r.value for r in spark.table("fused_stream").collect()) == ["A", "B", "C"]
    spark.catalog.dropTempView("fused_stream")


def test_fused_byte_counts_are_sampled_and_repeat(spark):
    # past the first outputs of a step in a bundle, byte counts come from
    # a fixed-seed sample: element counts stay exact, the byte estimate
    # is close to the exact sum and identical across runs
    import pickle

    words = [("w" * (i % 37)) + str(i) for i in range(4000)]

    def run():
        p = Pipeline(spark)
        p.create(words).map(str.upper).assert_that([w.upper() for w in words])
        q = p.metrics.query()
        name = next(n for n in q["element_counts"] if n.endswith(".out"))
        return q["element_counts"][name], q["byte_counts"][name]

    exact = sum(len(pickle.dumps(w.upper(), pickle.HIGHEST_PROTOCOL)) for w in words)
    first, second = run(), run()
    assert first == second
    assert first[0] == len(words)
    assert abs(first[1] - exact) < 0.15 * exact
