"""The benchmark workloads: what one iteration runs and how its
output is checked.

Each workload's ``prepare`` writes seeded inputs and returns their
manifest; ``iterate`` runs one iteration and returns the timed seconds
of each operation in it, the number of failed operations and the list
of check failures. Checks run after the timer stops; a wrong output is
a failure. ``traced`` runs one iteration again as a chain of spans (see
``spans.py``) and returns per-layer metrics.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from urllib.parse import unquote

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

import gen
from spans import MB, Tracer

from webloghunter_spark import engine
from webloghunter_spark.benchqueries import ORACLES, QUERIES
from webloghunter_spark.detectors.burst import BURST_RULE_TITLE, burst_success_detector
from webloghunter_spark.detectors.tools import tool_scanner
from webloghunter_spark.functions.risk import load_shells, method_risk_expr, status_risk_expr, uri_risk_col
from webloghunter_spark.operators.counts import with_request_count
from webloghunter_spark.operators.dedup import remove_cross_source_dups
from webloghunter_spark.operators.sessionize import sessionize
from webloghunter_spark.operators.timeutil import with_utc_timestamp
from webloghunter_spark.render import write_parquet_store
from webloghunter_spark.rules.sigma import apply_rules
from webloghunter_spark.session import materialize, materialized_scope, release_materialized
from webloghunter_spark.sources.logparse import read_access_logs

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def expect(failures: list[str], what: str, got, want) -> None:
    if got != want:
        failures.append(f"{what}: got {got}, want {want}")


class Workload:
    """Seeded input, written once per run and used by every iteration."""

    size: int

    def generate(self, path: str, seed: int, size: int) -> dict:
        raise NotImplementedError

    def prepare(self, spark, work: str, seed: int) -> dict:
        self.spark, self.work = spark, work
        self.input = fresh_dir(os.path.join(work, "input"))
        self.manifest = self.generate(self.input, seed, self.size)
        return self.manifest


# ---------------------------------------------------------------------------
# triage: raw logs -> build_pipeline -> query(risk_score=70) -> parquet
# ---------------------------------------------------------------------------

def triage_chain(spark, paths, cfg: engine.EngineConfig, cut=None):
    """``engine.build_pipeline`` (and the ``engine.score`` it calls) as a
    chain of public calls, in their order and with their branches on
    ``cfg``. ``cut(layer, df)`` is called after each call that yields a
    frame; returns (scored, errors) like ``build_pipeline``."""
    cut = cut or (lambda layer, df: None)
    entries, errors = read_access_logs(spark, paths)
    cut("sources.logparse", entries)
    df = remove_cross_source_dups(entries)
    cut("operators.dedup", df)
    df = with_utc_timestamp(df, time_offset=cfg.time_offset)
    cut("operators.timeutil", df)
    if cfg.cluster_off:
        df = df.withColumn("cluster", F.lit(0).cast("long"))
    else:
        df = sessionize(df, threshold=cfg.session_gap_seconds)
        cut("operators.sessionize", df)
    df = with_request_count(df)
    cut("operators.counts", df)
    uri_risk = uri_risk_col("request_uri", cfg.shells, cfg.sensitive_paths, cfg.risky_extensions)
    df = (
        df.withColumn("uri_risk", uri_risk)
        .withColumn("method_risk", method_risk_expr("method"))
        .withColumn("status_risk", status_risk_expr("status"))
    )
    cut("functions.risk", df)
    df = apply_rules(df, cfg.rules)
    cut("rules.sigma", df)
    if cfg.materialize_intermediate:
        df = materialize(df)
        cut("session.materialize", df)
    df = burst_success_detector(
        df,
        risk_score=cfg.burst_risk_score,
        min_requests=cfg.burst_min_requests,
        max_gap_seconds=cfg.burst_max_gap_seconds,
    )
    cut("detectors.burst", df)
    df = tool_scanner(df, cfg.tool_signatures)
    cut("detectors.tools", df)
    return df, errors


class Triage(Workload):
    name = "triage"

    def __init__(self, n_lines: int):
        self.size = n_lines
        self.cfg = engine.EngineConfig(shells=load_shells(os.path.join(ROOT, "conf", "shells_sample.txt")))

    def generate(self, path: str, seed: int, size: int) -> dict:
        return gen.gen_logs(path, seed, size)

    def _out(self) -> str:
        out = os.path.join(self.work, "out")
        shutil.rmtree(out, ignore_errors=True)
        return out

    def iterate(self):
        out = self._out()
        with materialized_scope():
            t0 = time.perf_counter()
            scored, errors = engine.build_pipeline(self.spark, self.input, self.cfg)
            write_parquet_store(engine.query(scored, self.cfg, risk_score=70), out)
            n_errors = errors.count()
            seconds = time.perf_counter() - t0
            failures = self.check(scored, n_errors, out)
        return {"triage": seconds}, int(bool(failures)), failures

    def check(self, scored, n_errors: int, out: str) -> list[str]:
        m, failures = self.manifest, []
        burst = F.col("rule_applied") == BURST_RULE_TITLE
        row = scored.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum((F.col("tool") == "DS01").cast("int")).alias("tool_rows"),
            F.sum(burst.cast("int")).alias("burst_rows"),
            F.countDistinct(F.when(burst, F.concat_ws("|", "source", "ip", "request_uri"))).alias("bursts"),
        ).first()
        expect(failures, "error lines", n_errors, m["errors"])
        expect(failures, "rows after duplicate removal", row["rows"], m["parsed"] - m["dups"])
        expect(failures, "DS01 tool-scan rows", row["tool_rows"], m["tool_rows"])
        expect(failures, "burst-success rows", row["burst_rows"], m["burst_success"])
        expect(failures, "bursts", row["bursts"], m["bursts"])
        table = pq.read_table(out, columns=["request_uri", "risk_score", "rule_applied"]).to_pandas()
        shells = set(gen.SHELLS)
        is_shell = table["request_uri"].map(lambda u: os.path.basename(unquote(u).split("?", 1)[0]) in shells)
        expect(failures, "webshell hits in output", int(is_shell.sum()), m["webshell_hits"])
        expect(failures, "burst rows in output", int((table["rule_applied"] == BURST_RULE_TITLE).sum()), m["burst_success"])
        expect(failures, "output rows below risk 70", int((table["risk_score"] < 70).sum()), 0)
        return failures

    def traced(self, tracer: Tracer) -> tuple[float, dict]:
        """One iteration as spans: a noop-sink cut after each public
        call, in build_pipeline's order. Every cut recomputes the
        prefix back to the persisted barrier (or the input), so a
        layer's own figures are its cut minus the previous cut; after
        the barrier the previous cut is a rescan of the cached frame.
        Persisted frames stay alive until the iteration ends, so no cut
        recomputes the prefix before the barrier."""
        out = self._out()
        cuts: list[tuple[str, object]] = []  # (layer, span that counts)
        nested = []  # every cut span, counted or not
        rows = Observation("logparse_rows")

        def cut(layer, df):
            if layer == "sources.logparse":
                df = df.observe(rows, F.count(F.lit(1)).alias("n"))
            if layer == "session.materialize":
                # fill the cache once; a rescan of it is the base of the
                # cuts after the barrier
                runs = [(layer, True), ("session.materialize.rescan", True)]
            else:
                # the second run counts: the first compiles the new plan
                runs = [(layer, False), (layer, True)]
            for name, counts in runs:
                with tracer.span(name) as sp:
                    noop(df)
                nested.append(sp)
                if counts:
                    cuts.append((name, sp))

        with materialized_scope():
            t0 = time.perf_counter()
            with tracer.span("engine") as build:
                scored, errors = triage_chain(self.spark, self.input, self.cfg, cut=cut)
            result = engine.query(scored, self.cfg, risk_score=70)
            cut("operators.filters", result)
            with tracer.span("render") as sp:
                write_parquet_store(result, out)
            cuts.append(("render", sp))
            with tracer.span("sources.logparse.errors") as err:
                n_errors = errors.count()
            traced_wall = time.perf_counter() - t0
        tracer.collect()
        m = {}
        prev = None
        for layer, sp in cuts:
            if layer != "session.materialize.rescan":
                m[f"{layer}.self_s"] = sp.seconds - (prev.seconds if prev else 0.0)
                m[f"{layer}.jobs"] = sp.jobs - (prev.jobs if prev else 0)
                m[f"{layer}.tasks"] = sp.tasks - (prev.tasks if prev else 0)
                m[f"{layer}.shuffle_mb"] = (sp.shuffle_bytes - (prev.shuffle_bytes if prev else 0)) / MB
            prev = sp
        # the engine span holds the cuts as nested spans: what is left
        # is the plan construction of build_pipeline's chain in Python
        m["engine.build_s"] = build.seconds - sum(sp.seconds for sp in nested[:-2])
        m["sources.logparse.rows_out"] = rows.get["n"]
        m["sources.logparse.error_rows"] = n_errors
        return traced_wall, m


# ---------------------------------------------------------------------------
# registry: registry queries, each checked against its DuckDB oracle
# ---------------------------------------------------------------------------

KIND = {"i": "int", "u": "int", "f": "float", "b": "bool", "m": "timedelta"}


def result_digest(pdf: pd.DataFrame) -> tuple[dict, str]:
    """(column kinds, digest of the sorted exact rows): the strict
    hash-check comparison — exact values, with int/float/str/datetime
    column kinds that must agree between engines."""
    pdf = pdf[sorted(pdf.columns)].copy()
    kinds = {}
    for c in pdf.columns:
        s = pdf[c]
        if "datetime" in str(s.dtype):
            kinds[c] = "datetime"
            pdf[c] = s.astype("datetime64[ns]").astype("int64") // 10**9
        else:
            kinds[c] = KIND.get(s.dtype.kind, "str")
            if s.dtype == object:
                pdf[c] = s.astype(str)
            elif s.dtype.kind == "f":
                pdf[c] = s.astype("float64")
            elif s.dtype.kind in "iub":
                pdf[c] = s.astype("int64")
    rows = sorted(map(repr, pdf.itertuples(index=False, name=None)))
    return kinds, hashlib.md5("\n".join(rows).encode()).hexdigest()


class Registry(Workload):
    """Tables shaped like sf0.01: 500 documents, 10000 events, 500
    vectors."""

    name = "registry"
    size = 10000

    def __init__(self, families: dict[str, list[str]]):
        self.family_of = {q: fam for fam, qs in families.items() for q in qs}
        self.queries = list(self.family_of)

    def generate(self, path: str, seed: int, size: int) -> dict:
        manifest = gen.gen_registry(path, seed, n_docs=size // 20, n_events=size, n_vecs=size // 20)
        self.order = [self.queries[i] for i in np.random.default_rng(seed).permutation(len(self.queries))]
        con = duckdb.connect()
        for t in ("documents", "events", "embeddings"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}/{t}.parquet'")
        self.oracles = {q: result_digest(con.sql(ORACLES[q]).df()) for q in self.queries}
        con.close()
        manifest["queries"] = len(self.queries)
        return manifest

    def _check(self, name: str, pdf: pd.DataFrame, failures: list[str]) -> bool:
        kinds, digest = result_digest(pdf)
        want_kinds, want = self.oracles[name]
        if len(pdf) and kinds != want_kinds:
            failures.append(f"{name}: column kinds {kinds} != oracle {want_kinds}")
        elif digest != want:
            failures.append(f"{name}: result hash differs from its oracle")
        else:
            return False
        return True

    def iterate(self):
        """One pass: each query once, in the seeded order, its result
        collected into pandas (timed) and then checked (untimed)."""
        latency, failures, failed = {}, [], set()
        for name in self.order:
            t0 = time.perf_counter()
            try:
                pdf = QUERIES[name](self.spark, self.input).toPandas()
            except Exception as e:  # one failing query must not end the pass
                failures.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
                failed.add(name)
                continue
            finally:
                latency[name] = time.perf_counter() - t0
                release_materialized()
                self.spark.catalog.clearCache()
            if self._check(name, pdf, failures):
                failed.add(name)
        return latency, len(failed), failures

    def traced(self, tracer: Tracer) -> tuple[float, dict]:
        """Per query: build (the query function, with its eager
        settle/collect/count calls), plan (physical planning of the
        returned frame) and execute (the collect, which reuses that
        plan), each in its own span; summed per family."""
        phases: list[tuple[str, str, object]] = []
        t0 = time.perf_counter()
        for name in self.order:
            fam = self.family_of[name]
            with tracer.span(f"benchqueries.{name}.build") as sp:
                df = QUERIES[name](self.spark, self.input)
            phases.append((fam, "build", sp))
            with tracer.span(f"benchqueries.{name}.plan") as sp:
                df._jdf.queryExecution().executedPlan()
            phases.append((fam, "plan", sp))
            with tracer.span(f"benchqueries.{name}.exec") as sp:
                df.toPandas()
            phases.append((fam, "exec", sp))
            release_materialized()
            self.spark.catalog.clearCache()
        traced_wall = time.perf_counter() - t0
        tracer.collect()
        m = {}
        for fam in dict.fromkeys(self.family_of.values()):
            mine = [(ph, sp) for f, ph, sp in phases if f == fam]
            for ph in ("build", "plan", "exec"):
                m[f"benchqueries.{fam}.{ph}_s"] = sum(sp.seconds for p, sp in mine if p == ph)
            m[f"benchqueries.{fam}.jobs"] = sum(sp.jobs for _, sp in mine)
            m[f"benchqueries.{fam}.tasks"] = sum(sp.tasks for _, sp in mine)
            m[f"benchqueries.{fam}.shuffle_mb"] = sum(sp.shuffle_bytes for _, sp in mine) / MB
        return traced_wall, m
