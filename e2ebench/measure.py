"""Measured session: one workload, one fresh process.

Started by ``run.py`` with the path of a JSON config; writes the run's
raw record (set-up time, one entry per unit, environment, trace) to
``result.json`` in the run's work directory. Set-up is session start,
build-side preparation and a fixed number of untimed warm-up units. Timed
units then run closed-loop, one after another, until ``seconds`` have
passed. With tracing on, a few more units run with a span around every
layer, each layer's output materialized inside its span.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import sys
import threading
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import checks  # noqa: E402
import gen  # noqa: E402
from tracing import Tracer, reduce_event_log, tree_cpu_s  # noqa: E402

#: untimed warm-up units per workload, counted in setup_s
WARMUP_UNITS = 1
#: traced units after the plain timed ones in a traced run
TRACED_UNITS = 2
#: pairs in the in-process similarity-kernel sample
SIMILARITY_PAIRS = 2000

#: per-layer metric name -> unit, in BENCHMARK.json order
PER_LAYER = {
    "session.start_s": "s",
    "operators.preprocess.s": "s", "operators.preprocess.jobs": "count",
    "operators.exact.s": "s", "operators.exact.jobs": "count",
    "operators.exact.stages": "count", "operators.exact.tasks": "count",
    "operators.exact.rows_out": "count",
    "operators.fuzzy.plan.s": "s", "operators.fuzzy.plan.jobs": "count",
    "operators.fuzzy.plan.stages": "count",
    "operators.fuzzy.exec.s": "s", "operators.fuzzy.exec.jobs": "count",
    "operators.fuzzy.exec.stages": "count", "operators.fuzzy.exec.tasks": "count",
    "operators.fuzzy.exec.candidate_pairs": "count",
    "operators.fuzzy.exec.distinct_street_pairs": "count",
    "operators.fuzzy.exec.rows_out": "count", "operators.fuzzy.exec.accept_ratio": "ratio",
    "functions.similarity.us_per_pair": "us",
    "operators.cluster.s": "s", "operators.cluster.jobs": "count",
    "operators.cluster.stages": "count", "operators.cluster.edges": "count",
    "operators.cluster.components": "count",
    "streaming.incremental.trigger_ms": "ms", "streaming.incremental.add_batch_ms": "ms",
    "streaming.incremental.query_planning_ms": "ms",
    "streaming.incremental.wal_commit_ms": "ms", "streaming.incremental.lag_ms": "ms",
    "sources.io.read_s": "s", "sources.io.write_s": "s", "sources.io.bytes_written": "B",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_ms": "ms", "spark.executor_cpu_ms": "ms",
    "spark.shuffle_read_bytes": "B", "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "trace.overhead_s": "s",
}

#: span that holds the trace's own counting jobs; excluded from every total
COUNTERS = "trace.counters"


def _bytes_under(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class _Layers:
    """Span wrappers around the operators ``pipeline`` calls. Each wrapped
    call's output is persisted and counted inside its span, so the work is
    done (and its jobs attributed) there rather than in a later action."""

    def __init__(self, tracer: Tracer):
        from registry_address_matcher_spark import pipeline
        from registry_address_matcher_spark.operators import fuzzy

        self.tr = tracer
        self.pipeline, self.fuzzy = pipeline, fuzzy
        #: (module, name, original) of every patched attribute
        self.saved: list[tuple] = []
        self.handles: list = []
        self.tiers: list[str] = []
        self._lock = threading.Lock()

    def materialize(self, df):
        df = df.persist()
        with self._lock:
            self.handles.append(df)
        return df, df.count()

    def _layer(self, span: str, fn, *a, rows_out: str | None = None, **kw):
        with self.tr.span(span):
            out, n = self.materialize(fn(*a, **kw))
        if rows_out:
            self.tr.count(rows_out, n)
        return out, n

    def install(self) -> None:
        P, F = self.pipeline, self.fuzzy
        o: dict = {}  # the originals, filled as the wrappers are patched in

        def preprocess_registry(df):
            return self._layer("operators.preprocess", o["preprocess_registry"], df)[0]

        def exact_full_matches(*a, **kw):
            return self._layer("operators.exact", o["exact_full_matches"], *a,
                               rows_out="operators.exact.rows_out", **kw)[0]

        def exact_key_matches(*a, **kw):
            return self._layer("operators.exact", o["exact_key_matches"], *a,
                               rows_out="operators.exact.rows_out", **kw)[0]

        def exclude_matched(*a, **kw):
            return self._layer("operators.exact", o["exclude_matched"], *a,
                               rows_out="operators.fuzzy.rows_in", **kw)[0]

        def fuzzy_matches(spr, cad, *a, **kw):
            with self.tr.span("operators.fuzzy.plan"):
                planned = o["fuzzy_matches"](spr, cad, *a, **kw)
            out, _ = self._layer("operators.fuzzy.exec", lambda: planned,
                                 rows_out="operators.fuzzy.exec.rows_out")
            with self.tr.span(COUNTERS):
                from pyspark.sql import functions as f

                pairs = F.candidate_pairs(spr, cad, columns=["ADDRESS_ID", "STREET_NORM"])
                self.tr.count("operators.fuzzy.exec.candidate_pairs", pairs.count())
                scored = pairs.filter(
                    (f.col("STREET_NORM_SPR") != "") & (f.col("STREET_NORM_CAD") != "")
                ).select("STREET_NORM_SPR", "STREET_NORM_CAD").distinct()
                self.tr.count("operators.fuzzy.exec.distinct_street_pairs", scored.count())
            return out

        def cluster_matches(matches, *a, **kw):
            out, _ = self._layer("operators.cluster", o["cluster_matches"], matches, *a, **kw)
            with self.tr.span(COUNTERS):
                self.tr.count("operators.cluster.edges", matches.count())
                self.tr.count(
                    "operators.cluster.components",
                    out.select("component").distinct().count(),
                )
            return out

        for fn in (preprocess_registry, exact_full_matches, exact_key_matches,
                   exclude_matched, fuzzy_matches, cluster_matches):
            o[fn.__name__] = getattr(P, fn.__name__)
            self._patch(P, fn.__name__, fn)
        # the scoring tier each fuzzy call chose; recorded, not required
        mode_fn = getattr(F, "_scoring_dedup_mode", None)
        if mode_fn is not None:
            def spy(*a, **kw):
                mode = mode_fn(*a, **kw)
                self.tiers.append(mode[0])
                return mode
            self._patch(F, "_scoring_dedup_mode", spy)

    def _patch(self, module, name: str, fn) -> None:
        self.saved.append((module, name, getattr(module, name)))
        setattr(module, name, fn)

    def uninstall(self) -> None:
        for module, name, fn in reversed(self.saved):
            setattr(module, name, fn)
        self.saved = []

    def release(self) -> None:
        with self._lock:
            handles, self.handles = self.handles, []
        for df in handles:
            df.unpersist()


class _Workload:
    """Tracing hooks shared by the workloads; both stay inert until a
    traced run sets ``tracer`` and ``layers``."""

    tracer: Tracer | None = None
    layers: _Layers | None = None

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def count_bytes(self, path: str) -> None:
        if self.tracer:
            self.tracer.count("sources.io.bytes_written", _bytes_under(path))


class RegistryBatch(_Workload):
    """One unit = one ``run_match_pipeline(with_clusters=True)`` pass, from
    a parquet read of both registries to a parquet write of matches and
    clusters."""

    def __init__(self, spark, cfg: dict):
        import pandas as pd

        self.spark = spark
        self.inp, self.out = cfg["input_dir"], os.path.join(cfg["work_dir"], "out")
        labels = pd.read_parquet(os.path.join(self.inp, "labels.parquet"))
        pos = labels[labels["is_match"]]
        self.positives = set(zip(pos["spr_id"], pos["cad_id"]))
        self.rows = cfg["facts"]["rows_spr"] + cfg["facts"]["rows_cad"]

    def prepare(self) -> None:
        pass

    def more(self, k: int) -> bool:
        return True

    def unit(self, k: int) -> float:
        from registry_address_matcher_spark import pipeline

        out = os.path.join(self.out, f"u{k}")
        t0 = time.perf_counter()
        with self.span("sources.io.read"):
            spr, cad = (
                self.spark.read.parquet(os.path.join(self.inp, f))
                for f in ("spr.parquet", "cad.parquet")
            )
            if self.layers:
                spr, cad = (self.layers.materialize(df)[0] for df in (spr, cad))
        res = pipeline.run_match_pipeline(spr, cad, with_clusters=True)
        with self.span("sources.io.write"):
            res.matches.write.parquet(os.path.join(out, "matches"))
            res.clusters.write.parquet(os.path.join(out, "clusters"))
        res.release()
        elapsed = time.perf_counter() - t0
        self.count_bytes(out)
        return elapsed

    def check(self, k: int) -> tuple[list[str], float]:
        out = os.path.join(self.out, f"u{k}")
        m = pq.read_table(os.path.join(out, "matches"))
        errors = checks.match_errors(m)
        errors += checks.cluster_errors(pq.read_table(os.path.join(out, "clusters")), m)
        ids = m.select(["ADDRESS_ID_SPR", "ADDRESS_ID_CAD"]).to_pydict()
        f1 = checks.pair_f1(set(zip(ids["ADDRESS_ID_SPR"], ids["ADDRESS_ID_CAD"])), self.positives)
        shutil.rmtree(out)
        return errors, f1

    def pair_sample(self) -> list[tuple[str, str]]:
        import pandas as pd

        from registry_address_matcher_spark.functions.normalize import normalize_py

        spr = pd.read_parquet(os.path.join(self.inp, "spr.parquet"))
        cad = pd.read_parquet(os.path.join(self.inp, "cad.parquet"))
        a = [normalize_py(s) for s in spr["STREET_NAME"][: SIMILARITY_PAIRS // 2]]
        b = [normalize_py(s) for s in cad["STREET_NAME"][: SIMILARITY_PAIRS // 2 + 1]]
        # same-entity pairs plus each probe street against its neighbour's
        return list(zip(a, b)) + list(zip(a, b[1:]))

    def close(self) -> None:
        pass


class ProbeStream(_Workload):
    """One unit = one micro-batch of ``incremental_match`` over a parquet
    file source: the client drops the next probe file, then waits until
    the batch's sink has returned and the batch has committed."""

    def __init__(self, spark, cfg: dict):
        import pandas as pd

        self.spark = spark
        self.inp = cfg["input_dir"]
        work = cfg["work_dir"]
        self.src, self.out = os.path.join(work, "in"), os.path.join(work, "out")
        self.ckpt = os.path.join(work, "checkpoint")
        os.makedirs(self.src, exist_ok=True)
        labels = pd.read_parquet(os.path.join(self.inp, "labels.parquet"))
        self.positives = set(zip(labels["row"], labels["cad_id"]))
        self.rows = cfg["facts"]["rows_spr"]
        self.n_files = cfg["facts"]["probe_files"]
        self.done = threading.Condition()
        self.finished: dict[int, float] = {}
        self.dropped: dict[int, float] = {}
        self.progress: dict[int, dict] = {}

    def _sink(self, df, batch_id: int) -> None:
        path = os.path.join(self.out, f"b{batch_id}")
        with self.span("sources.io.write"):
            df.write.parquet(path)
        self.count_bytes(path)
        with self.done:
            self.finished[batch_id] = time.perf_counter()
            self.done.notify_all()

    def prepare(self) -> None:
        """The one-batch reference run over the probe rows (the streaming
        invariant's right-hand side; it also warms the session), then the
        stream over the static, once-normalized build side."""
        from registry_address_matcher_spark.pipeline import run_match_pipeline
        from registry_address_matcher_spark.streaming.incremental import incremental_match

        cad = self.spark.read.parquet(os.path.join(self.inp, "cad.parquet"))
        ref = run_match_pipeline(
            self.spark.read.parquet(os.path.join(self.inp, "reference.parquet")),
            cad, with_clusters=False,
        )
        path = os.path.join(self.out, "reference")
        ref.matches.write.parquet(path)
        ref.release()
        table = pq.read_table(path)
        self.reference = checks.comparable(table, gen.probe_row)
        self.reference_errors = checks.match_errors(table)
        source = (
            self.spark.readStream.schema(gen.PROBE_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.src)
        )
        self.writer = incremental_match(source, cad, self._sink)
        self.query = self.writer.option("checkpointLocation", self.ckpt).start()

    def more(self, k: int) -> bool:
        return k < self.n_files

    def unit(self, k: int) -> float:
        name = f"probe-{k:05d}.parquet"
        t0 = time.perf_counter()
        self.dropped[k] = time.time()
        os.rename(os.path.join(self.inp, "stage", name), os.path.join(self.src, name))
        with self.done:
            if not self.done.wait_for(lambda: k in self.finished, timeout=150):
                raise RuntimeError(f"micro-batch {k} did not finish: {self.query.exception()}")
        elapsed = self.finished[k] - t0
        deadline = time.time() + 30
        while time.time() < deadline:
            lp = self.query.lastProgress
            if lp and lp["batchId"] >= k:
                break
            time.sleep(0.005)
        for p in self.query.recentProgress:
            self.progress.setdefault(p["batchId"], p)
        return elapsed

    def streaming_metrics(self, k: int) -> dict[str, float]:
        from datetime import datetime

        p = self.progress[k]
        d = p["durationMs"]
        started = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        return {
            "streaming.incremental.trigger_ms": d.get("triggerExecution", 0),
            "streaming.incremental.add_batch_ms": d.get("addBatch", 0),
            "streaming.incremental.query_planning_ms": d.get("queryPlanning", 0),
            "streaming.incremental.wal_commit_ms": d.get("walCommit", 0),
            "streaming.incremental.lag_ms": (started - self.dropped[k]) * 1000,
        }

    def check(self, k: int) -> tuple[list[str], float]:
        path = os.path.join(self.out, f"b{k}")
        table = pq.read_table(path)
        errors = checks.match_errors(table)
        if checks.comparable(table, gen.probe_row) != self.reference:
            errors.append(f"micro-batch {k} matches differ from the one-batch run")
        ids = table.select(["ADDRESS_ID_SPR", "ADDRESS_ID_CAD"]).to_pydict()
        predicted = {(gen.probe_row(a), c) for a, c in zip(ids["ADDRESS_ID_SPR"], ids["ADDRESS_ID_CAD"])}
        shutil.rmtree(path)
        return errors, checks.pair_f1(predicted, self.positives)

    def pair_sample(self) -> list[tuple[str, str]]:
        import pandas as pd

        from registry_address_matcher_spark.functions.normalize import normalize_py

        probe = pd.read_parquet(os.path.join(self.inp, "reference.parquet"))
        cad = pd.read_parquet(os.path.join(self.inp, "cad.parquet"))
        a = [normalize_py(s) for s in probe["STREET_NAME"]]
        b = [normalize_py(s) for s in cad["STREET_NAME"].drop_duplicates()]
        return [(x, y) for x in a for y in b][:SIMILARITY_PAIRS]

    def close(self) -> None:
        self.query.stop()
        self.writer.release_build_side()


WORKLOADS = {"registry_batch": RegistryBatch, "probe_stream": ProbeStream}


def _similarity_us_per_pair(pairs: list[tuple[str, str]]) -> float:
    from registry_address_matcher_spark.functions.similarity import blend4_scores

    times = []
    for _ in range(3):
        cache: dict = {}
        t0 = time.perf_counter()
        for a, b in pairs:
            blend4_scores(a, b, cache)
        times.append(time.perf_counter() - t0)
    return statistics.median(times) / len(pairs) * 1e6


def _layer_metrics(
    wl, tracer: Tracer, units: list[str], plain: list[int], log_dir: str
) -> tuple[dict, list[dict]]:
    """Per traced unit: self seconds and Spark counts per span and the
    trace's counts. Returns their medians over the traced units (for
    probe_stream, plus the stream's progress as medians over the plain
    timed units) and the per-unit values."""
    spark_counts = reduce_event_log(log_dir)
    selfs = tracer.self_seconds()
    per_unit: list[dict[str, float]] = []
    for u in units:
        m = {name: 0.0 for name in PER_LAYER}
        for (unit, span), s in selfs.items():
            if unit != u:
                continue
            if span == "sources.io.read":
                m["sources.io.read_s"] += s
            elif span == "sources.io.write":
                m["sources.io.write_s"] += s
            elif f"{span}.s" in m:
                m[f"{span}.s"] += s
        for (unit, span), c in spark_counts.items():
            if unit != u or span == COUNTERS:
                continue
            for k, v in c.items():
                m[f"spark.{k}"] += v
                if f"{span}.{k}" in m:
                    m[f"{span}.{k}"] += v
        for (unit, name), v in tracer.counts.items():
            if unit == u and name in m:
                m[name] += v
        rows_in = tracer.counts.get((u, "operators.fuzzy.rows_in"), 0)
        if rows_in:
            m["operators.fuzzy.exec.accept_ratio"] = m["operators.fuzzy.exec.rows_out"] / rows_in
        per_unit.append(m)
    out = {name: statistics.median(m[name] for m in per_unit) for name in PER_LAYER}
    if isinstance(wl, ProbeStream):
        # from the plain timed batches: a traced batch's trigger also holds
        # the trace's own counting jobs
        stream = [wl.streaming_metrics(k) for k in plain]
        out.update({n: statistics.median(m[n] for m in stream) for n in stream[0]})
    return out, per_unit


def _unit_record(wl, k: int, phase: str, reference_f1: float | None) -> dict:
    cpu0 = tree_cpu_s()
    elapsed = wl.unit(k)
    cpu = tree_cpu_s() - cpu0
    errors, f1 = wl.check(k)
    if reference_f1 is not None and f1 != reference_f1:
        errors.append(f"match_f1 {f1} != warm-up value {reference_f1}")
    return {"k": k, "phase": phase, "s": elapsed, "cpu_s": cpu, "rows": wl.rows,
            "f1": f1, "errors": errors}


def _run_units(wl, units: list, phase: str, start_k: int, reference_f1, until=None, count=None):
    k = start_k
    t0 = time.perf_counter()
    while wl.more(k):
        if count is not None and k - start_k >= count:
            break
        if until is not None and time.perf_counter() - t0 >= until:
            break
        units.append(_unit_record(wl, k, phase, reference_f1))
        k += 1
    return k


def main(cfg_path: str) -> int:
    with open(cfg_path) as f:
        cfg = json.load(f)
    t_setup = time.perf_counter()
    from registry_address_matcher_spark.session import get_spark

    extra = {
        "spark.sql.warehouse.dir": os.path.join(cfg["work_dir"], "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    log_dir = os.path.join(cfg["work_dir"], "eventlog")
    if cfg["trace"]:
        os.makedirs(log_dir)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(f"e2ebench-{cfg['workload']}", master=cfg["master"], extra_conf=extra)
    session_start_s = time.perf_counter() - t_setup
    conf = spark.sparkContext.getConf()
    env = {
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "local_dir": conf.get("spark.local.dir", None) or os.environ.get("SPARK_LOCAL_DIRS"),
        "tmp_dir": cfg["tmp_dir"],
        "driver_memory": conf.get("spark.driver.memory", None),
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "pyspark": spark.version,
        "python": sys.version.split()[0],
    }

    wl = WORKLOADS[cfg["workload"]](spark, cfg)
    units: list[dict] = []
    wl.prepare()
    if isinstance(wl, ProbeStream):
        units.append({"k": -1, "phase": "reference", "s": None, "cpu_s": None,
                      "rows": wl.rows, "f1": None, "errors": wl.reference_errors})
    k = _run_units(wl, units, "warmup", 0, None, count=WARMUP_UNITS)
    reference_f1 = units[-1]["f1"]
    setup_s = time.perf_counter() - t_setup

    k = _run_units(wl, units, "timed", k, reference_f1, until=cfg["seconds"])
    trace = None
    if cfg["trace"]:
        tracer = Tracer(spark)
        layers = _Layers(tracer)
        layers.install()
        wl.tracer, wl.layers = tracer, layers
        traced: list[str] = []
        for _ in range(TRACED_UNITS):
            if not wl.more(k):
                break
            tracer.set_unit(k)
            with tracer.span("unit"):
                rec = _unit_record(wl, k, "traced", reference_f1)
            tracer.set_unit("")
            layers.release()
            # the trace's own counting jobs are not part of the unit
            rec["s"] -= sum(
                sp["s"] for sp in tracer.spans if sp["unit"] == str(k) and sp["name"] == COUNTERS
            )
            units.append(rec)
            traced.append(str(k))
            k += 1
        layers.uninstall()
        wl.tracer = wl.layers = None
        # one more plain unit, so the plain units bracket the traced ones
        k = _run_units(wl, units, "plain", k, reference_f1, count=1)
        pairs = wl.pair_sample()
    wl.close()
    spark.stop()
    if cfg["trace"]:
        plain_k = [u["k"] for u in units if u["phase"] in ("timed", "plain")]
        metrics, per_unit = _layer_metrics(wl, tracer, traced, plain_k, log_dir)
        metrics["session.start_s"] = session_start_s
        metrics["functions.similarity.us_per_pair"] = _similarity_us_per_pair(pairs)
        plain = [u["s"] for u in units if u["phase"] in ("timed", "plain")]
        traced_s = [u["s"] for u in units if u["phase"] == "traced"]
        metrics["trace.overhead_s"] = statistics.median(traced_s) - statistics.median(plain)
        trace = {"metrics": metrics, "tiers": layers.tiers, "units": per_unit}
    result = {"setup_s": setup_s, "session_start_s": session_start_s, "env": env,
              "units": units, "trace": trace}
    with open(os.path.join(cfg["work_dir"], "result.json"), "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1]))
