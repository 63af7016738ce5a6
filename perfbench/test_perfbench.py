"""Self-tests of the benchmark's own arithmetic and gates (no Spark).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

import gen
import host
import run
import workloads
from spans import Tracer, self_stages, self_time
from workloads import Op, Query, closed_loop, nearest_rank

sys.path.insert(0, os.path.join(run.ROOT, "tools"))


class FakeClock:
    def __init__(self):
        self.now = 0.0

    def __call__(self):
        return self.now


def test_self_time_subtracts_merged_child_cover():
    clock = FakeClock()
    tr = Tracer(clock=clock)
    with tr.span("op") as op:  # 0 .. 10
        clock.now = 1.0
        with tr.span("a"):  # 1 .. 4, with a grandchild that must not count twice
            clock.now = 2.0
            with tr.span("a.inner"):
                clock.now = 3.0
            clock.now = 4.0
        clock.now = 6.0
        with tr.span("b"):  # 6 .. 9
            clock.now = 9.0
        clock.now = 10.0
    spans = tr.spans
    assert spans[op.sid].duration == 10.0
    assert self_time(spans, op.sid) == pytest.approx(10.0 - 3.0 - 3.0)
    assert self_time(spans, 1) == pytest.approx(3.0 - 1.0)
    assert [s.parent for s in spans] == [None, 0, 1, 0]


def test_self_time_merges_overlapping_children():
    clock = FakeClock()
    tr = Tracer(clock=clock)
    with tr.span("op"):
        clock.now = 10.0
    # two children on other threads overlapping in time: 2..6 and 4..8
    for s, e in ((2.0, 6.0), (4.0, 8.0)):
        tr.spans.append(type(tr.spans[0])("x", s, 0, 0, len(tr.spans), end=e))
    assert self_time(tr.spans, 0) == pytest.approx(10.0 - 6.0)


def test_stage_ranges_attribute_self_stages():
    ids = iter([(0, 0), (2, 1), (5, 3), (5, 3), (7, 4), (9, 5)])
    tr = Tracer(ids=lambda: next(ids))
    with tr.span("op"):  # stages 0..9
        with tr.span("read"):  # stages 2..5
            pass
        with tr.span("profile"):  # stages 5..7
            pass
    spans = tr.spans
    assert (spans[1].stage_lo, spans[1].stage_hi) == (2, 5)
    assert self_stages(spans, 0) == [0, 1, 7, 8]
    assert self_stages(spans, 1) == [2, 3, 4]
    assert self_stages(spans, 2) == [5, 6]


def test_spans_opened_on_another_thread_nest_under_main_span():
    import threading

    tr = Tracer()
    with tr.span("drain"):
        t = threading.Thread(target=lambda: tr.span("merge").__enter__())
        t.start()
        t.join(timeout=10)
    assert not t.is_alive()
    assert tr.spans[1].parent == tr.spans[0].sid


def test_generator_is_byte_identical_per_seed(tmp_path):
    sizes = {"lineitem_csv_rows": 300, "orders_json_rows": 100, "dirty_csv_rows": 120}
    digests = []
    for i, seed in enumerate((5, 5, 6)):
        d = tmp_path / f"g{i}"
        gen.write_ingest_files(str(d / "ingest"), seed, sizes)
        gen.write_tables(str(d / "tables"), seed, 0.0005)
        feeds = gen.StreamFeeds(seed, {"cdc_rows": 50, "cdc_key_space": 80, "cdc_delete_frac": 0.1,
                                       "event_rows": 40, "event_bad_frac": 0.1,
                                       "doc_rows": 20, "doc_pool": 15})
        for k in ("cdc", "ev", "docs"):
            os.makedirs(d / k)
        for epoch in range(2):
            feeds.write_epoch(epoch, str(d / "cdc"), str(d / "ev"), str(d / "docs"))
        digests.append(gen.digest_dir(str(d)))
    assert digests[0] == digests[1]
    assert digests[0] != digests[2]


def test_stream_reference_is_latest_wins(tmp_path):
    feeds = gen.StreamFeeds(1, {"cdc_rows": 200, "cdc_key_space": 30, "cdc_delete_frac": 0.3,
                                "event_rows": 10, "event_bad_frac": 0.0,
                                "doc_rows": 30, "doc_pool": 10})
    for k in ("c", "e", "d"):
        os.makedirs(tmp_path / k)
    info = [feeds.write_epoch(e, str(tmp_path / "c"), str(tmp_path / "e"), str(tmp_path / "d"))
            for e in range(3)]
    changes = pd.concat(pd.read_csv(tmp_path / "c" / f) for f in sorted(os.listdir(tmp_path / "c")))
    last = changes.sort_values("seq").groupby("id").tail(1)
    want = last[last["op"] == "upsert"][["id", "seq", "name", "amount"]]
    assert workloads._same_rows(feeds.live_cdc(), want, "id")
    # documents: every distinct text is novel exactly once across epochs
    assert sum(i["doc_novel"] for i in info) == len(feeds.seen_texts) <= 10


class FakeWorkload:
    """Three slots; slot ``b`` returns a planted wrong answer."""

    name = "fake"
    tracer = None

    def slots(self):
        return ["a", "b", "c"]

    def expected_spans(self, slot):
        return set()

    def prepare(self, slot):
        pass

    def rows(self, slot):
        return 10

    def run(self, slot):
        if slot == "c":
            raise RuntimeError("boom")
        return 41 if slot == "b" else 42

    def check(self, slot, out):
        return out == 42


def test_planted_wrong_result_counts_as_failed():
    ops = closed_loop(FakeWorkload(), passes=1)
    assert [o.slot for o in ops] == ["a", "b", "c"]
    assert [o.ok for o in ops] == [True, False, False]
    assert ops[1].error == "output check failed"
    v = run.verdict(ops)
    assert v == {"correct": False, "attempted": 3, "failed": 2,
                 "ops_failed_pct": pytest.approx(200.0 / 3)}
    assert run.verdict([])["correct"] is False


def test_query_gate_bites_on_planted_wrong_result():
    from check_oracle import compare

    q = Query.__new__(Query)
    q.compare = compare
    q.expected = {"q_x": pd.DataFrame({"k": [1, 2], "v": [3.0, 4.0]}), "q_rows": None}
    q.row_hashes = {}

    class Frame:
        def __init__(self, df):
            self.df = df

        def toPandas(self):
            return self.df

    assert q.check("q_x", Frame(pd.DataFrame({"k": [2, 1], "v": [4.0, 3.0]})))
    assert not q.check("q_x", Frame(pd.DataFrame({"k": [1, 2], "v": [3.0, 4.5]})))
    # rows-only keys: non-empty and the same value hash on every pass
    assert q.check("q_rows", Frame(pd.DataFrame({"a": [1, 2]})))
    assert q.check("q_rows", Frame(pd.DataFrame({"a": [2, 1]})))
    assert not q.check("q_rows", Frame(pd.DataFrame({"a": [1, 3]})))
    assert not q.check("q_rows", Frame(pd.DataFrame({"a": []})))


def test_ingest_gate_bites_on_planted_wrong_aggregate(tmp_path):
    ing = workloads.Ingest.__new__(workloads.Ingest)
    sizes = {"lineitem_csv_rows": 50, "orders_json_rows": 20, "dirty_csv_rows": 60}
    ing.files = {f["kind"]: f for f in gen.write_ingest_files(str(tmp_path), 3, sizes)}
    f = ing.files["dirty"]
    assert not ing.check("dirty", {"n": f["rows"], "k": f["sum_key"], "c": f["sum_cents"] + 1})
    assert not ing.check("dirty", {"n": f["rows"] - 1, "k": f["sum_key"], "c": f["sum_cents"]})


def test_traced_loop_times_every_slot_both_ways():
    tr = Tracer()
    tr.enabled = False
    ops = closed_loop(FakeWorkload(), passes=1, tracer=tr)
    assert len(ops) == 6
    for slot in "abc":
        assert sorted(o.traced for o in ops if o.slot == slot) == [False, True]
    assert {tr.spans[o.span].name for o in ops if o.traced} == {"op.fake"}


def test_traced_op_without_its_layer_span_fails():
    class Layered(FakeWorkload):
        def expected_spans(self, slot):
            return {"layer.read"}

        def run(self, slot):
            if slot == "a":  # only slot a reaches the layer
                with self.tracer.span("layer.read"):
                    pass
            return 42

    wl = Layered()
    wl.tracer = tr = Tracer()
    tr.enabled = False
    ops = closed_loop(wl, passes=1, tracer=tr)
    assert {o.slot: o.ok for o in ops if o.traced} == {"a": True, "b": False, "c": False}
    assert all(o.ok for o in ops if not o.traced)
    assert ops[2].error == "trace: no layer.read span opened"


def test_run_imports_no_data_library_before_setup():
    import subprocess

    code = ("import sys; sys.path.insert(0, sys.argv[1]); import run; "
            "print(sorted({'numpy', 'pandas', 'pyarrow', 'pyspark'} & set(sys.modules)))")
    out = subprocess.run([sys.executable, "-c", code, os.path.dirname(run.__file__)],
                         capture_output=True, text=True, check=True)
    assert out.stdout.strip() == "[]"


def test_nearest_rank_and_tail():
    xs = [float(i) for i in range(1, 21)]
    assert nearest_rank(xs, 50) == 10.0
    assert nearest_rank(xs, 90) == 18.0
    assert nearest_rank([3.0], 90) == 3.0
    ops = [Op("a", s, True, 5, False) for s in (1.0, 2.0, 3.0, 4.0)]
    m = run.end_to_end(9.5, ops, 2, 90)
    assert m["op_p50_s"] == 2.5 and m["op_tail_s"] == 4.0
    assert m["wall_s"] == pytest.approx(5.0)  # median of the passes 3 and 7
    assert m["rows_per_s"] == pytest.approx(10 / 5.0)  # one pass's rows per wall_s


def test_shape_mismatch_is_an_error():
    a = {"workload": "ingest", "cpus": 4, "sf": 0.01, "python": "3", "pyspark": "4", "java": "17"}
    host.check_same_shape(a, dict(a, steal_pct=3.0))
    with pytest.raises(host.ShapeMismatch, match="cpus"):
        host.check_same_shape(a, dict(a, cpus=32))


def test_injected_session_conf_is_refused(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CONF", "spark.sql.shuffle.partitions=1")
    with pytest.raises(host.EnvError, match="SPARK_GRAFT_CONF"):
        host.prepare_env(str(tmp_path), str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_CONF", "")
    for k in ("SPARK_GRAFT_CPUS", "SPARK_LOCAL_DIRS", "PYTHONPATH", "TMPDIR"):
        monkeypatch.delenv(k, raising=False)
    cpus = host.prepare_env(str(tmp_path / "w"), str(tmp_path))
    assert os.environ["SPARK_GRAFT_CPUS"] == str(cpus) == str(host.cpu_count())
    assert os.environ["SPARK_LOCAL_DIRS"].startswith(str(tmp_path / "w"))
