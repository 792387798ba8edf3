"""The benchmark workloads.

Each workload generates its inputs once per run (``prepare``), then
runs passes. A pass starts in a fresh SparkSession whose generated-class
cache was emptied, so it pays cold codegen as a batch run does; the
run's first pass also runs in a cold JVM. A pass's wall time runs from
the generated inputs on disk to the complete, verified result:

- ``service_areas``: the service-area DAG from an empty store, the
  GeoJSON export, the three README questions, a no-op rerun and a
  rerun after the seed edits one KML file;
- ``llm_curation``: the curation queries of the registry.

Every operation (a pipeline run, the export, a question, a query) fails
if it raises or its output does not match the generator's answer
(``service_areas``) or the query's DuckDB oracle (``llm_curation``).
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import time
import traceback

import duckdb
import pandas as pd

from perfbench import gen
from perfbench.tracing import JvmCounters, Tracer, delta

LLM_QUERIES = (
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_minhash_verified",
    "dedup_keep_best",
    "dedup_exact_substring",
    "token_collocations",
    "curation_funnel_report",
)
TARGET_STAGES = ("certificates", "chronology", "raw_service_areas", "service_areas")


class Pass:
    """Timings, counts and failures of one pass."""

    def __init__(self) -> None:
        self.times: dict[str, float] = {}
        self.counts: dict[str, float] = {}
        self.attempted = 0
        self.failures: list[str] = []

    def check(self, name: str, fn):
        """Run one operation; record a failure if it raises or returns
        a non-empty problem string. Returns fn's value, or None."""
        self.attempted += 1
        try:
            problem = fn()
        except Exception:  # noqa: BLE001 - a failed operation is data here
            self.failures.append(f"{name}: raised\n{traceback.format_exc()}")
            return None
        if problem:
            self.failures.append(f"{name}: {problem}")
        return problem


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm_python(spark, cpus: int) -> None:
    """Start the Python worker daemon and one worker per core."""
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    _noop(spark.range(0, cpus * 64, numPartitions=cpus).select(plus_one("id")))


def open_session(cpus: int, tracer: Tracer):
    """Fresh session with warm Python workers and a cold codegen cache.
    Returns (spark, counters, build_s, python_warm_s)."""
    from utility_service_areas_spark.session import build_session

    t0 = time.perf_counter()
    with tracer.span("session.build"):
        spark = build_session("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    with tracer.span("session.python_warm"):
        warm_python(spark, cpus)
    t2 = time.perf_counter()
    counters = JvmCounters(spark)
    counters.clear_codegen_cache()
    return spark, counters, t1 - t0, t2 - t1


# ---------------------------------------------------------- service areas


def _marked(stage, marks: list):
    """``stage`` with a build function that first appends (stage name,
    entry time) to ``marks``."""
    build = stage.build

    def marked_build(spark, deps):
        marks.append((stage.name, time.perf_counter()))
        return build(spark, deps)

    return dataclasses.replace(stage, build=marked_build)


class ServiceAreas:
    name = "service_areas"

    def __init__(self, work: str, seed: int):
        self.work = work
        self.src = os.path.join(work, "inputs")
        self.seed = seed
        self.expected: dict = {}
        self.input_bytes = 0

    def prepare(self) -> None:
        self.expected = gen.generate_service_areas(self.seed, self.src)
        self.input_bytes = gen.input_bytes(self.src)

    def _stages(self, d: str, marks: list):
        """The DAG over the inputs in ``d``, each stage ``_marked`` into
        ``marks``. The wrapper is always there, traced or not, so every
        pass runs the same code and hashes the same stage keys."""
        from utility_service_areas_spark.plans.targets import service_areas_stages

        e = self.expected
        stages = service_areas_stages(
            os.path.join(d, "kml"),
            os.path.join(d, "certificates.csv"),
            os.path.join(d, "chronology.csv"),
            e["operator_ids"],
            e["inactive_ids"],
            [tuple(m) for m in e["merge_patches"]],
        )
        return [_marked(s, marks) for s in stages]

    def _pipeline(self, spark, d: str, store: str, tracer: Tracer) -> dict:
        """One run_pipeline call over the DAG. A stage's span runs from
        its build function's entry to the next built stage's (or the
        call's end): its build, parquet write and row count, plus the
        key hashing of the stage after it."""
        from utility_service_areas_spark.plans.targets import run_pipeline

        marks: list = []
        report = run_pipeline(spark, self._stages(d, marks), store)
        ends = [t for _, t in marks[1:]] + [time.perf_counter()]
        for (name, start), end in zip(marks, ends):
            tracer.record(f"plans.targets.{name}", start, end)
        return report

    def _answers(self, p: Pass, spark, d: str, store: str, tracer: Tracer) -> None:
        """The export and the three README questions, each verified."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from utility_service_areas_spark.functions.geometry import st_area
        from utility_service_areas_spark.operators.geo import (
            points_in_polygons,
            polygon_overlap_pairs,
        )
        from utility_service_areas_spark.sources.geojson import write_geojson

        e = self.expected
        layer = spark.read.parquet(os.path.join(store, "service_areas"))
        out = os.path.join(d, "service-areas.geojson")

        def export():
            with tracer.span("sources.geojson.write") as s:
                write_geojson(layer, out, multi=True)
                s["bytes"] = os.path.getsize(out)
            with open(out) as f:
                feats = json.load(f)["features"]
            got = {
                str(int(ft["properties"]["certificate_number"])): len(ft["geometry"]["coordinates"])
                for ft in feats
            }
            if len(feats) != len(got) or got != e["n_polygons"]:
                return f"certificates/polygon counts differ ({len(feats)} features)"

        polys = layer.select("certificate_number", F.explode("geometry").alias("geometry"))

        def overlaps():
            with tracer.span("operators.geo.overlap_pairs"):
                rows = polygon_overlap_pairs(polys, "certificate_number").collect()
            got = sorted([int(r.id_a), int(r.id_b)] for r in rows)
            if got != e["overlap_pairs"]:
                return f"{len(got)} overlap pairs, expected {len(e['overlap_pairs'])}"

        def areas():
            with tracer.span("functions.geometry.st_area"):
                per_cert = polys.groupBy("certificate_number").agg(
                    F.sum(st_area(F.col("geometry"))).alias("area")
                )
                w = Window.orderBy(F.col("area").desc(), F.col("certificate_number"))
                rows = per_cert.select(
                    "certificate_number", "area", F.row_number().over(w).alias("rk")
                ).collect()
            got = {str(int(r.certificate_number)): round(r.area * 1000) for r in rows}
            want = e["area_milli"]
            ranked = [c for c, _ in sorted(want.items(), key=lambda kv: (-kv[1], int(kv[0])))]
            got_rank = [str(int(r.certificate_number)) for r in sorted(rows, key=lambda r: r.rk)]
            if got != want or got_rank != ranked:
                return "areas or area ranking differ"

        def lookups():
            pts = spark.read.csv(
                os.path.join(d, "points.csv"), header=True, schema="point_id LONG, px DOUBLE, py DOUBLE"
            )
            with tracer.span("operators.geo.points_in_polygons"):
                rows = points_in_polygons(pts, polys, id_col="certificate_number").collect()
            got = sorted([int(r.point_id), int(r.certificate_number)] for r in rows)
            if got != e["point_owners"]:
                return f"{len(got)} point owners, expected {len(e['point_owners'])}"

        p.check("export", export)
        p.check("overlap_pairs", overlaps)
        p.check("area_ranking", areas)
        p.check("point_lookup", lookups)

    def _rerun(self, p: Pass, spark, d: str, store: str, tracer: Tracer, label: str, want: dict) -> bool:
        """One memoized rerun; True if its report is the expected one."""
        from utility_service_areas_spark.plans.targets import run_pipeline

        def op():
            t0 = time.perf_counter()
            with tracer.span(f"plans.targets.{label}"):
                report = run_pipeline(spark, self._stages(d, []), store)
            p.times[label] = time.perf_counter() - t0
            for v in report.values():
                p.counts[v] = p.counts.get(v, 0) + 1
            if report != want:
                return f"report {report}"

        return p.check(label, op) is None

    def _full(self, p: Pass, spark, d: str, store: str, tracer: Tracer) -> float:
        """The pass: the DAG from scratch, the export and the three
        questions, then a no-op rerun and a rerun after the seeded KML
        edit. Returns its wall time."""
        t0 = time.perf_counter()

        def build():
            report = self._pipeline(spark, d, store, tracer)
            p.counts["built"] = p.counts.get("built", 0) + sum(v == "built" for v in report.values())
            if set(report.values()) != {"built"}:
                return f"fresh store report {report}"

        p.check("pipeline", build)
        self._answers(p, spark, d, store, tracer)
        self._rerun(p, spark, d, store, tracer, "noop_rerun", {s: "skipped" for s in TARGET_STAGES})
        gen.apply_kml_edit(d, self.expected)
        want = {
            "certificates": "skipped",
            "chronology": "skipped",
            "raw_service_areas": "built",
            "service_areas": "built",
        }
        if self._rerun(p, spark, d, store, tracer, "edit_rerun", want):
            p.check("edit_rerun_area", lambda: self._edit_area_problem(spark, store))
        return time.perf_counter() - t0

    def _edit_area_problem(self, spark, store: str):
        from pyspark.sql import functions as F

        from utility_service_areas_spark.functions.geometry import st_area

        e = self.expected
        row = (
            spark.read.parquet(os.path.join(store, "service_areas"))
            .filter(F.col("certificate_number") == e["edit_cert"])
            .select(F.explode("geometry").alias("g"))
            .agg(F.sum(st_area(F.col("g"))).alias("area"))
            .collect()[0]
        )
        if round(row.area * 1000) != e["edit_area_milli"]:
            return f"edited area {row.area}"

    def run_pass(self, spark, counters: JvmCounters, tracer: Tracer, pass_dir: str, probes: bool) -> Pass:
        p = Pass()
        d = os.path.join(pass_dir, "inputs")
        shutil.copytree(self.src, d)
        before = counters.snapshot() if tracer.enabled else {}
        with tracer.span("pass"):
            p.times["wall"] = self._full(p, spark, d, os.path.join(pass_dir, "store"), tracer)
        if tracer.enabled:
            p.counts.update(delta(counters.snapshot(), before))
        if probes:
            self._layer_probes(p, spark, tracer, pass_dir)
        return p

    def _layer_probes(self, p: Pass, spark, tracer: Tracer, pass_dir: str) -> None:
        """Traced passes only: each layer called directly, in the warm
        session, then the whole pass once more (cold minus warm)."""
        from utility_service_areas_spark.functions import geometry
        from utility_service_areas_spark.plans.service_areas import (
            build_raw_service_areas,
            build_service_areas,
        )
        from utility_service_areas_spark.sources.certificates import (
            clean_certificates,
            read_certificates_csv,
        )
        from utility_service_areas_spark.sources.kml import parse_kml_bytes, read_kml

        e = self.expected
        glob = os.path.join(self.src, "kml", "*.kml")
        with tracer.span("sources.kml.read"):
            p.counts["placemarks"] = read_kml(spark, glob).count()
        with tracer.span("sources.certificates.clean"):
            _noop(clean_certificates(read_certificates_csv(spark, os.path.join(self.src, "certificates.csv"))))
        store = os.path.join(pass_dir, "store")
        certs = spark.read.parquet(os.path.join(store, "certificates"))
        chron = spark.read.parquet(os.path.join(store, "chronology"))
        with tracer.span("plans.service_areas.raw_build"):
            raw = build_raw_service_areas(spark, glob, certs)
        with tracer.span("plans.service_areas.raw_exec"):
            _noop(raw)
        with tracer.span("plans.service_areas.cleaned_build"):
            cleaned = build_service_areas(
                spark, glob, certs, chron, e["operator_ids"], e["inactive_ids"],
                [tuple(m) for m in e["merge_patches"]],
            )
        with tracer.span("plans.service_areas.cleaned_exec"):
            _noop(cleaned)

        by_cert: dict[str, list] = {}
        kml_dir = os.path.join(self.src, "kml")
        with tracer.span("sources.kml.parse_bytes"):
            for name in sorted(os.listdir(kml_dir)):
                with open(os.path.join(kml_dir, name), "rb") as f:
                    for row in parse_kml_bytes(name, f.read()):
                        by_cert.setdefault(name.split("-")[0], []).append(row["geometry"])
        polys = [g for gs in by_cert.values() for g in gs]
        p.counts["vertices"] = sum(len(r) for g in polys for r in g)
        with tracer.span("functions.geometry.make_valid"):
            valid = {c: [geometry.make_valid(g) for g in gs] for c, gs in by_cert.items()}
        with tracer.span("functions.geometry.union_all"):
            for gs in valid.values():
                geometry.union_all(gs)

        warm = Pass()
        d = os.path.join(pass_dir, "warm")
        shutil.copytree(self.src, d)
        p.times["warm_wall"] = self._full(warm, spark, d, os.path.join(d, "store"), Tracer(False, ""))
        p.failures += warm.failures
        p.attempted += warm.attempted


# ---------------------------------------------------------- llm curation


class LlmCuration:
    """The curation queries over the seeded documents table. Each query
    is built, then collected (like the noop sink, collect consumes every
    column of every row, so no subtree is pruned away) and compared with
    its DuckDB oracle by an order-insensitive canonical hash."""

    name = "llm_curation"

    def __init__(self, work: str, seed: int):
        self.work = work
        self.src = os.path.join(work, "tables")
        self.seed = seed
        self.want: dict[str, tuple] = {}
        self.input_bytes = 0

    def prepare(self) -> None:
        from tools.check_oracle import _canon_frame
        from utility_service_areas_spark.plans.registry import all_oracles

        gen.generate_documents(self.seed, self.src)
        self.input_bytes = gen.input_bytes(self.src)
        sql = all_oracles()
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW documents AS SELECT * FROM '{self.src}/documents.parquet'")
            for q in LLM_QUERIES:
                cur = con.execute(sql[q])
                cols = [c[0] for c in cur.description]
                rows = cur.fetchall()
                self.want[q] = (sorted(cols), len(rows), _canon_frame(cols, rows)[0])
        finally:
            con.close()

    def _run_all(self, p: Pass, spark, tracer: Tracer) -> float:
        from tools.check_oracle import _canon_frame
        from utility_service_areas_spark.plans.registry import all_queries

        qs = all_queries()
        t0 = time.perf_counter()
        for q in LLM_QUERIES:

            def op(q=q):
                with tracer.span(f"plans.{q}.build"):
                    df = qs[q](spark, self.src)
                with tracer.span(f"plans.{q}.exec"):
                    rows = [tuple(r) for r in df.collect()]
                p.counts[f"rows.{q}"] = len(rows)
                got = (sorted(df.columns), len(rows), _canon_frame(df.columns, rows)[0])
                if got != self.want[q]:
                    return f"spark {got} != oracle {self.want[q]}"

            p.check(q, op)
        return time.perf_counter() - t0

    def run_pass(self, spark, counters: JvmCounters, tracer: Tracer, pass_dir: str, probes: bool) -> Pass:
        p = Pass()
        before = counters.snapshot() if tracer.enabled else {}
        with tracer.span("pass"):
            p.times["wall"] = self._run_all(p, spark, tracer)
        if tracer.enabled:
            p.counts.update(delta(counters.snapshot(), before))
        if probes:  # the pass once more in the same session (cold minus warm)
            warm = Pass()
            p.times["warm_wall"] = self._run_all(warm, spark, Tracer(False, ""))
            p.failures += warm.failures
            p.attempted += warm.attempted
        return p


WORKLOADS = {w.name: w for w in (ServiceAreas, LlmCuration)}
