"""The benchmark's workloads: one class per workload, one closed loop.

Each workload exposes ``slots()`` (the operations of one pass, in
order), ``run(slot)`` (the timed operation), ``check(slot, out)`` (the
untimed output check; False counts the operation as failed),
``rows(slot)`` (input rows the operation lands or scans), ``warmup()``,
``expected_spans(slot)`` (the layer spans a traced operation must open)
and ``layers(ops, tracer, store)`` (per-layer metrics from the traced
operations). :func:`closed_loop` drives any of them.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import sys
import time
from dataclasses import dataclass

import pandas as pd
import pyarrow.parquet as pq

import gen
from spans import COUNTERS, self_stages, self_time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Counters reported per span (``input_bytes`` only feeds scan_passes).
SPAN_COUNTERS = tuple(c for c in COUNTERS if c != "input_bytes")


@dataclass
class Op:
    slot: str
    seconds: float
    ok: bool
    rows: int
    traced: bool
    error: str | None = None
    span: int | None = None


def nearest_rank(values: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``pct`` percent of the samples at or below it."""
    xs = sorted(values)
    k = max(1, -(-len(xs) * pct // 100))
    return xs[int(k) - 1]


def closed_loop(wl, passes: int, tracer=None, op_timeout: float = 120.0) -> list[Op]:
    """One client, closed loop, ``passes`` whole passes over
    ``wl.slots()``: the next operation starts when the last one has
    finished and been checked.

    With a tracer, at least two passes run and operation ``i`` of pass
    ``p`` is traced when ``i + p`` is even: every slot is then timed
    both traced and untraced in the same run, which gives the tracing
    overhead."""
    ops: list[Op] = []
    if tracer is not None:
        passes = max(passes, 2)
    for p in range(passes):
        for i, slot in enumerate(wl.slots()):
            traced = tracer is not None and (i + p) % 2 == 0
            ops.append(_one_op(wl, slot, traced, tracer, len(ops), op_timeout))
    return ops


def _one_op(wl, slot, traced, tracer, run_id, op_timeout) -> Op:
    sid = err = out = None
    wl.prepare(slot)
    t0 = time.perf_counter()
    try:
        if traced:
            tracer.enabled = True
            tracer.run_id = run_id
            with tracer.span(f"op.{wl.name}", slot=slot) as sp:
                sid = sp.sid
                out = wl.run(slot)
        else:
            out = wl.run(slot)
    except Exception as exc:  # noqa: BLE001 - a raising op is a failed op
        err = f"{type(exc).__name__}: {exc}"[:500]
    finally:
        if tracer is not None:
            tracer.enabled = False
    dt = time.perf_counter() - t0
    if err is None and dt > op_timeout:
        err = f"timed out ({dt:.1f}s > {op_timeout}s)"
    if err is None and traced:
        # A layer whose span never opened would read as zero time spent
        # there, so a traced operation that misses one fails instead.
        opened = {s.name for s in tracer.spans if s.run_id == run_id}
        missing = sorted(wl.expected_spans(slot) - opened)
        if missing:
            err = f"trace: no {', '.join(missing)} span opened"
    if err is None:
        try:
            if not wl.check(slot, out):
                err = "output check failed"
        except Exception as exc:  # noqa: BLE001 - a raising check fails the op
            err = f"check: {type(exc).__name__}: {exc}"[:500]
    return Op(slot, dt, err is None, wl.rows(slot), traced, err, sid)


def span_totals(tracer, store, ops: list[Op]) -> dict[str, dict[str, float]]:
    """Per span name, summed over the given traced operations: calls,
    duration, self time, jobs and the counters of the span's self
    stages."""
    spans = tracer.spans
    runs = {spans[o.span].run_id for o in ops if o.span is not None}
    if store is not None:
        store.settle()
    out: dict[str, dict[str, float]] = {}
    for sp in spans:
        if sp.run_id not in runs or sp.end is None:
            continue
        t = out.setdefault(sp.name, {"calls": 0, "dur": 0.0, "self": 0.0, "jobs": 0,
                                     "stages": 0.0, **dict.fromkeys(COUNTERS, 0.0)})
        t["calls"] += 1
        t["dur"] += sp.duration
        t["self"] += self_time(spans, sp.sid)
        t["jobs"] += sp.job_hi - sp.job_lo
        if store is not None:
            for k, v in store.counters(self_stages(spans, sp.sid)).items():
                t[k] += v
    return out


class Layers:
    """Per-operation means of span totals, for one workload's layers."""

    def __init__(self, tot: dict, n_ops: int):
        self.tot, self.n = tot, n_ops

    def get(self, span: str, key: str) -> float:
        return self.tot.get(span, {}).get(key, 0.0)

    def per_op(self, span: str, key: str) -> float:
        return self.get(span, key) / self.n if self.n else 0.0

    def counters(self, names: dict[str, str]) -> dict[str, float]:
        return {f"{layer}.{c}": self.per_op(span, c)
                for span, layer in names.items() for c in SPAN_COUNTERS}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


# --------------------------------------------------------------------------
# ingest: the paper's flow, one file per operation
# --------------------------------------------------------------------------

class Ingest:
    """``pipeline.runner.ingest_file_pipeline`` over three files (CSV,
    multiLine JSON array, dirty CSV), each followed by one aggregate
    over the loaded view so the lazy load runs."""

    span_layers = {"sources.read": "sources", "plans.profile": "plans",
                   "op.ingest": "pipeline", "pipeline.load": "pipeline.load"}

    def __init__(self, spark, work: str, seed: int, spec: dict, tracer=None):
        from self_healing_data_pipeline_spark.pipeline import runner
        from self_healing_data_pipeline_spark.plans import catalog, profiler

        self.spark, self.runner, self.tracer = spark, runner, tracer
        self.sql_type_of = catalog.sql_type_of
        self.files = {f["kind"]: f for f in gen.write_ingest_files(
            os.path.join(work, "ingest"), seed, spec["sizes"])}
        self.warm_files = {f["kind"]: f for f in gen.write_ingest_files(
            os.path.join(work, "ingest-warm"), seed + 1, spec["sizes"])}
        self.attempts = [0, 0]  # stage attempts, stages run
        self.profiles: dict[str, object] = {}
        # Keep each returned profile, to check that the issue paths fired.
        orig = profiler.profile_dataframe

        def keep_profile(df, table_name="uploaded_data", *a, **kw):
            prof = self.profiles[table_name] = orig(df, table_name, *a, **kw)
            return prof

        profiler.profile_dataframe = keep_profile
        if tracer is not None:
            from self_healing_data_pipeline_spark.sources import readers

            tracer.wrap(readers, "read_any", "sources.read")
            tracer.wrap(profiler, "profile_dataframe", "plans.profile")
            tracer.wrap(runner, "verify_readback", "pipeline.readback")

    def slots(self):
        return list(self.files)

    def expected_spans(self, slot):
        return {"sources.read", "plans.profile", "pipeline.readback", "pipeline.load"}

    def prepare(self, slot):
        pass

    def rows(self, slot):
        return self.files[slot]["rows"]

    def warmup(self):
        """One untimed pass over same-sized files of another seed."""
        for kind, f in self.warm_files.items():
            self._ingest(f, f"warm_{kind}")

    def _ingest(self, f: dict, table: str):
        res = self.runner.ingest_file_pipeline(self.spark, f["path"], table_name=table)
        for log in res.logs:
            if log.message.endswith(": ok"):
                self.attempts[0] += 1
                self.attempts[1] += 1
            elif log.severity == "error" and "exhausted retries" not in log.message:
                self.attempts[0] += 1
        if not res.ok:
            raise RuntimeError(f"pipeline stopped at {res.step}: {res.logs[-1].message[:300]}")
        with (self.tracer.span("pipeline.load") if self.tracer else contextlib.nullcontext()):
            row = self.spark.sql(
                f"SELECT count(*) AS n, sum({f['key']}) AS k, "
                f"sum(CAST(round({f['amount']} * 100) AS BIGINT)) AS c FROM {table}"
            ).collect()[0]
        return row

    def run(self, slot):
        return self._ingest(self.files[slot], f"bench_{slot}")

    def check(self, slot, row) -> bool:
        f = self.files[slot]
        table = f"bench_{slot}"
        if (row["n"], row["k"], row["c"]) != (f["rows"], f["sum_key"], f["sum_cents"]):
            return False
        frozen = {n: self.sql_type_of(t) for n, t in self.spark.table(table).dtypes}
        if frozen != f["types"]:
            return False
        prof = self.profiles.get(table)
        issues = {c.column_name: c.quality_issues for c in prof.columns} if prof else {}
        return all(want in issues.get(col, []) for col, want in f.get("issues", {}).items())

    def layers(self, ops, tracer, store) -> dict[str, float]:
        traced = [o for o in ops if o.traced and o.ok]
        L = Layers(span_totals(tracer, store, traced), len(traced))
        file_bytes = sum(os.path.getsize(self.files[o.slot]["path"]) for o in traced)
        pipe_self = sum(self_time(tracer.spans, o.span) for o in traced)
        out = {
            "sources.read_s": L.per_op("sources.read", "dur"),
            "sources.jobs": L.per_op("sources.read", "jobs"),
            "sources.scan_passes": L.get("sources.read", "input_bytes") / file_bytes if file_bytes else 0.0,
            "plans.profile_s": L.per_op("plans.profile", "dur"),
            "plans.profile_jobs": L.per_op("plans.profile", "jobs"),
            "plans.scan_passes": L.get("plans.profile", "input_bytes") / file_bytes if file_bytes else 0.0,
            "pipeline.self_s": pipe_self / len(traced) if traced else 0.0,
            "pipeline.readback_s": L.per_op("pipeline.readback", "dur"),
            "pipeline.attempts_per_stage": self.attempts[0] / self.attempts[1] if self.attempts[1] else 0.0,
        }
        out.update(L.counters(self.span_layers))
        return out


# --------------------------------------------------------------------------
# stream: one epoch per operation, three feeds drained per epoch
# --------------------------------------------------------------------------

class Stream:
    """Each epoch lands one file per feed, then drains CDC changes
    (``streaming.cdc.apply_changes``), events with quarantine
    (``streaming.ingest.incremental_ingest_with_quarantine``) and
    documents (``streaming.dedup_registry.dedup_stream``)."""

    span_layers = {"streaming.cdc.drain": "streaming.cdc",
                   "streaming.cdc.merge": "streaming.cdc.merge",
                   "streaming.ingest.drain": "streaming.ingest",
                   "streaming.dedup.drain": "streaming.dedup",
                   "streaming.dedup.merge": "streaming.dedup.merge"}

    def __init__(self, spark, work: str, seed: int, spec: dict, tracer=None):
        from pyspark.sql import types as T

        from self_healing_data_pipeline_spark.streaming import cdc, dedup_registry, ingest

        self.spark, self.tracer = spark, tracer
        self.cdc, self.ingest, self.dedup = cdc, ingest, dedup_registry
        self.sizes = spec["sizes"]
        self.await_s = spec["await_seconds"]
        self.warm_epochs = spec["warm_epochs"]
        L, S = T.LongType(), T.StringType()
        self.cdc_schema = T.StructType([T.StructField(n, t) for n, t in
                                        (("op", S), ("id", L), ("seq", L), ("name", S), ("amount", L))])
        self.ev_schema = T.StructType([T.StructField(n, t) for n, t in
                                       (("event_id", L), ("user_id", L), ("event_type", S), ("value", L))])
        self.doc_schema = T.StructType([T.StructField("doc_id", L), T.StructField("text", S)])
        root = os.path.join(work, "stream")
        self.feeds = gen.StreamFeeds(seed, self.sizes)
        self.epoch = 0
        self.d = {k: os.path.join(root, k) for k in (
            "land/cdc", "land/events", "land/docs", "cdc_state", "events_out",
            "events_bad", "doc_registry", "doc_accepted", "ck/cdc", "ck/events", "ck/docs")}
        for k in ("land/cdc", "land/events", "land/docs"):
            os.makedirs(self.d[k], exist_ok=True)
        self.bad_rows = self.event_rows = 0
        if tracer is not None:
            tracer.wrap(cdc, "apply_changes_batch", "streaming.cdc.merge")
            tracer.wrap(dedup_registry, "apply_dedup_batch", "streaming.dedup.merge")

    def slots(self):
        return ["epoch"]

    def rows(self, slot):
        s = self.sizes
        return s["cdc_rows"] + s["event_rows"] + s["doc_rows"]

    def expected_spans(self, slot):
        return set(self.span_layers)

    def warmup(self):
        """Untimed epochs through the stream's own checkpoints and state,
        so that every timed epoch merges into an existing CDC snapshot
        and dedup registry."""
        for _ in range(self.warm_epochs):
            self.prepare("epoch")
            self.run("epoch")

    def state_rows(self) -> dict[str, int]:
        """Live CDC keys and registered document texts so far."""
        return {"cdc_live_rows": len(self.feeds.live_cdc()),
                "doc_registry_texts": len(self.feeds.seen_texts)}

    def _span(self, name):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def prepare(self, slot):
        """Land the epoch's files: the extractor's work, not timed."""
        self.info = self.feeds.write_epoch(
            self.epoch, self.d["land/cdc"], self.d["land/events"], self.d["land/docs"])
        self.epoch += 1

    def run(self, slot):
        d = self.d
        before = {k: _listing(d[k]) for k in ("events_out", "events_bad", "doc_accepted")}
        with self._span("streaming.cdc.drain"):
            self.cdc.apply_changes(self.spark, d["land/cdc"], d["cdc_state"], d["ck/cdc"],
                                   self.cdc_schema, await_seconds=self.await_s)
        with self._span("streaming.ingest.drain"):
            self.ingest.incremental_ingest_with_quarantine(
                self.spark, d["land/events"], d["events_out"], d["events_bad"], d["ck/events"],
                self.ev_schema, fmt="json", required=["event_id"], await_seconds=self.await_s)
        with self._span("streaming.dedup.drain"):
            self.dedup.dedup_stream(self.spark, d["land/docs"], d["doc_registry"],
                                    d["doc_accepted"], d["ck/docs"], self.doc_schema,
                                    await_seconds=self.await_s)
        return {k: sorted(_listing(d[k]) - v) for k, v in before.items()}

    def check(self, slot, new) -> bool:
        d, info = self.d, self.info
        # CDC: the newest committed snapshot equals the latest-wins reference.
        snap = _latest_snapshot(d["cdc_state"])
        if snap is None:
            return False
        got = pq.read_table(snap).to_pandas()
        got = got[~got["__deleted"]][["id", "seq", "name", "amount"]]
        want = self.feeds.live_cdc()
        if not _same_rows(got, want, "id"):
            return False
        # Events: good plus quarantined rows equal the rows landed.
        good = sum(_parquet_rows(os.path.join(d["events_out"], p)) for p in new["events_out"])
        bad = sum(_parquet_rows(os.path.join(d["events_bad"], p)) for p in new["events_bad"])
        self.bad_rows += bad
        self.event_rows += info["event_rows"]
        if (good + bad, bad) != (info["event_rows"], info["event_bad"]):
            return False
        # Documents: the accepted set equals the distinct planted texts.
        acc = [pq.read_table(os.path.join(d["doc_accepted"], p)).to_pandas()
               for p in new["doc_accepted"]]
        texts = set(pd.concat(acc)["text"]) if acc else set()
        return texts == self.feeds.last_novel

    def layers(self, ops, tracer, store) -> dict[str, float]:
        traced = [o for o in ops if o.traced and o.ok]
        L = Layers(span_totals(tracer, store, traced), len(traced))
        cdc_drain = L.per_op("streaming.cdc.drain", "dur")
        cdc_merge = L.per_op("streaming.cdc.merge", "dur")
        d = self.d
        state = sum(dir_bytes(s) for s in (_latest_snapshot(d["cdc_state"]),
                                           _latest_snapshot(d["doc_registry"])) if s)
        written = sum(dir_bytes(d[k]) for k in ("cdc_state", "events_out", "events_bad",
                                                  "doc_registry", "doc_accepted"))
        landed = sum(dir_bytes(d[k]) for k in ("land/cdc", "land/events", "land/docs"))
        out = {
            "streaming.cdc.drain_s": cdc_drain,
            "streaming.cdc.merge_s": cdc_merge,
            "streaming.cdc.overhead_s": cdc_drain - cdc_merge,
            "streaming.ingest.drain_s": L.per_op("streaming.ingest.drain", "dur"),
            "streaming.dedup.drain_s": L.per_op("streaming.dedup.drain", "dur"),
            "streaming.dedup.merge_s": L.per_op("streaming.dedup.merge", "dur"),
            "streaming.write_amp": written / landed if landed else 0.0,
            "streaming.state_bytes": float(state),
            "streaming.quarantine_ratio": self.bad_rows / self.event_rows if self.event_rows else 0.0,
        }
        out.update(L.counters(self.span_layers))
        return out


def _listing(path: str) -> set[str]:
    """Entries of a table directory, without Spark's commit markers."""
    try:
        return {p for p in os.listdir(path)
                if not p.startswith(".") and p not in ("_SUCCESS", "_temporary")}
    except FileNotFoundError:
        return set()


def _latest_snapshot(state_dir: str) -> str | None:
    epochs = sorted(
        int(p.split("=", 1)[1]) for p in _listing(state_dir)
        if p.startswith("batch=") and os.path.exists(os.path.join(state_dir, p, "_SUCCESS"))
    )
    return os.path.join(state_dir, f"batch={epochs[-1]}") if epochs else None


def _parquet_rows(path: str) -> int:
    return pq.read_table(path).num_rows


def _same_rows(a: pd.DataFrame, b: pd.DataFrame, key: str) -> bool:
    if len(a) != len(b):
        return False
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    return all((a[c].astype(str).values == b[c].astype(str).values).all() for c in b.columns)


# --------------------------------------------------------------------------
# query: one registry key per operation (build + noop write)
# --------------------------------------------------------------------------

class Query:
    """A slate of ``q_*`` registry keys over the generated star schema;
    one operation builds a key's DataFrame and runs it into the noop
    sink. Output is checked against the key's DuckDB oracle twin (or,
    for rows-only keys, must be non-empty and hash the same every
    pass)."""

    name = "query"
    span_layers = {"queries.build": "queries.build", "queries.exec": "queries.exec"}

    def __init__(self, spark, work: str, seed: int, spec: dict, tracer=None):
        from self_healing_data_pipeline_spark import registry

        self.spark, self.tracer = spark, tracer
        self.sf = spec["sf"]
        self.slate = list(spec["slate"])
        self.warm_passes = spec["warm_passes"]
        self.sf_dir = os.path.join(work, f"sf{self.sf}")
        self.table_rows = gen.write_tables(self.sf_dir, seed, self.sf)
        self.queries, oracles = registry.QUERIES, registry.ORACLE
        sys.path.insert(0, os.path.join(REPO_ROOT, "tools"))
        from check_oracle import TABLES, compare

        self.compare = compare
        self.expected = self._oracles(oracles, TABLES)
        self.row_hashes: dict[str, str] = {}
        self.records: list[dict] = []

    def _oracles(self, oracles: dict, tables) -> dict[str, pd.DataFrame | None]:
        import duckdb

        con = duckdb.connect()
        try:
            for t in tables:
                p = os.path.join(self.sf_dir, f"{t}.parquet")
                if os.path.exists(p):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            return {k: con.execute(oracles[k]).df() if k in oracles else None for k in self.slate}
        finally:
            con.close()

    def slots(self):
        return self.slate

    def expected_spans(self, slot):
        return set(self.span_layers)

    def prepare(self, slot):
        pass

    def rows(self, slot):
        return sum(self.table_rows.values()) // len(self.slate)

    def warmup(self):
        # Untimed passes over the slate: the first pass in a JVM runs
        # about three times as slow and the second still about 30 %
        # slower while codegen and the JIT catch up.
        for _ in range(self.warm_passes):
            for key in self.slate:
                self.queries[key](self.spark, self.sf_dir).write.format("noop").mode("overwrite").save()

    def run(self, slot):
        fn = self.queries[slot]
        if self.tracer is None or not self.tracer.enabled:
            df = fn(self.spark, self.sf_dir)
            df.write.format("noop").mode("overwrite").save()
            return df
        with self.tracer.span("queries.build", key=slot):
            df = fn(self.spark, self.sf_dir)
        with self.tracer.span("queries.exec", key=slot):
            df.write.format("noop").mode("overwrite").save()
        return df

    def check(self, slot, df) -> bool:
        got = df.toPandas()
        want = self.expected[slot]
        if want is not None:
            return self.compare(got, want) == "OK"
        if got.empty:
            return False
        cols = sorted(got.columns)
        canon = got[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
        h = hashlib.sha256(pd.util.hash_pandas_object(canon.astype(str), index=False).values).hexdigest()
        return self.row_hashes.setdefault(slot, h) == h

    def layers(self, ops, tracer, store) -> dict[str, float]:
        traced = [o for o in ops if o.traced and o.ok]
        L = Layers(span_totals(tracer, store, traced), len(traced))
        out = {
            "queries.build_s": L.per_op("queries.build", "dur"),
            "queries.build_jobs": L.per_op("queries.build", "jobs"),
            "queries.exec_s": L.per_op("queries.exec", "dur"),
            "queries.jobs": L.per_op("queries.build", "jobs") + L.per_op("queries.exec", "jobs"),
            "queries.stages": L.per_op("queries.build", "stages") + L.per_op("queries.exec", "stages"),
        }
        out.update(L.counters(self.span_layers))
        # Per-key record, for ranking keys by driver-side work.
        spans = tracer.spans
        for o in traced:
            kids = [s for s in spans if s.parent == o.span]
            rec = {"key": o.slot, "op_s": o.seconds}
            for s in kids:
                part = s.name.split(".")[-1]
                c = store.counters(self_stages(spans, s.sid)) if store else {}
                rec[f"{part}_s"] = s.duration
                rec[f"{part}_jobs"] = s.job_hi - s.job_lo
                for k in ("cpu_ms", "run_ms", "python_ms", "shuffle_bytes"):
                    rec[f"{part}_{k}"] = c.get(k, 0.0)
            self.records.append(rec)
        return out


class FilesAndEpochs:
    """The paper's workload in both forms: each pass ingests the three
    files (:class:`Ingest`) and then runs one stream epoch
    (:class:`Stream`)."""

    name = "ingest"

    def __init__(self, spark, work: str, seed: int, spec: dict, tracer=None):
        self.files = Ingest(spark, work, seed, spec["files"], tracer)
        self.stream = Stream(spark, work, seed, spec["stream"], tracer)

    def _of(self, slot):
        return self.stream if slot == "epoch" else self.files

    def slots(self):
        return self.files.slots() + self.stream.slots()

    def prepare(self, slot):
        self._of(slot).prepare(slot)

    def run(self, slot):
        return self._of(slot).run(slot)

    def check(self, slot, out) -> bool:
        return self._of(slot).check(slot, out)

    def rows(self, slot):
        return self._of(slot).rows(slot)

    def expected_spans(self, slot):
        return self._of(slot).expected_spans(slot)

    def warmup(self):
        # The first pass in a JVM runs about twice as slow while the
        # readers, the profiler's aggregates, the load and the drains are
        # compiled. Later passes still get 10-15 % faster over the next
        # five or so while the JIT keeps compiling; every run warms up
        # alike, so every run times the same stretch of that curve.
        self.files.warmup()
        self.stream.warmup()

    def state_rows(self) -> dict[str, int]:
        return self.stream.state_rows()

    def layers(self, ops, tracer, store) -> dict[str, float]:
        out = self.files.layers([o for o in ops if o.slot != "epoch"], tracer, store)
        out.update(self.stream.layers([o for o in ops if o.slot == "epoch"], tracer, store))
        return out


WORKLOADS = {"ingest": FilesAndEpochs, "query": Query}
