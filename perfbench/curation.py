"""The ``llm_curation`` workload: registered LLM-data curation queries,
called one after another by one closed-loop client.

The queries are chosen for the two mechanisms the other workload
lacks: Arrow Python-worker stages (a scalar Arrow UDF in
``f_jaro_winkler``, ``mapInPandas`` in ``mm_decode_real_jpeg``, a
grouped pandas map in ``dedup_embedding_cosine_blocked``) and a
driver-side fixed-point loop that launches eager jobs while the query
is being built (``graph_pagerank_converged``).

An op is one call into the registered function plus the execution of
the frame's own physical plan, which computes every output column
(``count()`` would let Catalyst prune them). Each op's result is
checked once per run against the DuckDB oracle registered with it,
outside the timed region.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os
import random
import statistics
import time

from perfbench import corpus
from perfbench.etl_dag import NODES
from perfbench.trace import (JobWindow, Tracer, catalyst_phases,
                             plan_layer_metrics, plan_metrics, tree_cpu_s)

OPS = ("graph_pagerank_converged", "dedup_embedding_cosine_blocked",
       "f_jaro_winkler", "mm_decode_real_jpeg")


def _norm(v) -> str:
    """Value -> string for the order-insensitive multiset comparison.
    Same rules as ``tools/check_oracle.py``, kept here so that a change
    to that tool cannot change what the benchmark accepts."""
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def result_digest(cols: list[str], rows) -> str:
    """Digest of a result as a multiset of rows, columns in name order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("|".join(sorted(cols)).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return f"{len(lines)}:{h.hexdigest()}"


class Curation:
    name = "llm_curation"
    #: per-layer metrics this workload prints as 0: it runs no DAG
    NOT_APPLICABLE = tuple(f"dag.{n}_s" for n in NODES) + (
        "dag.noop_pass_s", "dag.incr_pass_s", "incremental.fingerprint_s",
        "incremental.fingerprints", "incremental.nodes_run",
        "sinks.write_amp")
    #: passes behind ``warm_cpu_s``, about 13 s of them
    WARM_PASSES = 2

    def __init__(self, spark, work: str, seed: int, tracer: Tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.rng = random.Random(seed)
        self.errors: list[str] = []
        self.results: dict[str, str] = {}
        self.failed_ops: dict[str, int] = {}
        self.attempts: dict[str, int] = {}
        #: per traced warm pass, each layer value summed over its ops
        self.traced: list[dict[str, float]] = []
        from pmc_conversion_spark import queries as Q
        self.fns = {n: Q.queries()[n] for n in OPS}
        self.oracles = {n: Q.oracles()[n] for n in OPS}

    def setup(self) -> None:
        self.inputs = corpus.write_tables(
            os.path.join(self.work, "curation"), self.seed)

    # ------------------------------------------------------------ timing

    def _op(self, name: str,
            keep_result: bool) -> tuple[float, float] | None:
        """Run one op; returns its (latency, CPU seconds), or None if it
        raised."""
        self.attempts[name] = self.attempts.get(name, 0) + 1
        tr = self.tracer
        tr.new_op()
        build_w = JobWindow(self.spark) if tr.enabled else None
        try:
            c0 = tree_cpu_s()
            t0 = time.perf_counter()
            with tr.span("queries.build"):
                df = self.fns[name](self.spark, self.inputs)
            build_s = time.perf_counter() - t0
            if tr.enabled:
                jobs_build = build_w.collect()
                act_w = JobWindow(self.spark)
            t1 = time.perf_counter()
            qe = df._jdf.queryExecution()
            if tr.enabled:
                with tr.span("catalyst"):
                    qe.executedPlan()
            with tr.span("exec.action"):
                qe.toRdd().count()
            action_s = time.perf_counter() - t1
            cpu_s = tree_cpu_s() - c0
        except Exception as e:  # an op that raises is a failed op
            self.failed_ops[name] = self.failed_ops.get(name, 0) + 1
            self.errors.append(f"{name}: {type(e).__name__}: {e}"[:500])
            return None
        if keep_result:
            rows = df.collect()
            self.results[name] = result_digest(df.columns, rows)
        if tr.enabled:
            self._record(build_s, action_s, jobs_build, act_w.collect(), qe)
        return build_s + action_s, cpu_s

    def _pass(self, keep_results: bool) -> list[tuple[float, float]]:
        order = list(OPS)
        self.rng.shuffle(order)
        self._acc: dict[str, float] = {}
        ops = [self._op(n, keep_results) for n in order]
        if self.tracer.enabled and not keep_results:
            self.traced.append(self._acc)
        return [x for x in ops if x is not None]

    def cold_pass(self) -> tuple[float, float]:
        """First pass in the process; also keeps every result to check.
        Returns the pass's (seconds, CPU seconds), checks excluded."""
        ops = self._pass(keep_results=True)
        return sum(w for w, _ in ops), sum(c for _, c in ops)

    def warm_pass(self):
        """One pass; returns its (seconds, CPU seconds) and the seconds
        of each query."""
        ops = self._pass(keep_results=False)
        return (sum(w for w, _ in ops), sum(c for _, c in ops)), \
            [w for w, _ in ops]

    def attempted(self) -> int:
        return sum(self.attempts.values())

    def failed(self) -> int:
        return sum(self.failed_ops.values())

    # ------------------------------------------------------------- check

    def check(self) -> None:
        """Compare each op's result with its oracle's; a wrong op counts
        as failed for every time it ran."""
        expected = self._oracle_digests()
        for name in OPS:
            got = self.results.get(name)
            if got is not None and got != expected[name]:
                self.errors.append(
                    f"{name}: result {got} != oracle {expected[name]}")
                self.failed_ops[name] = self.attempts.get(name, 0)

    def _oracle_digests(self) -> dict[str, str]:
        """Oracle result digests, cached under the work dir keyed by the
        oracle text and the bytes of the input tables."""
        h = hashlib.sha256()
        for t in corpus.TABLES:
            with open(os.path.join(self.inputs, f"{t}.parquet"), "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
        inputs_key = h.hexdigest()
        cache_dir = os.path.join(os.path.dirname(self.work), "oracle-cache")
        os.makedirs(cache_dir, exist_ok=True)
        out, con = {}, None
        for name in OPS:
            key = hashlib.sha256(
                (self.oracles[name] + inputs_key).encode()).hexdigest()
            path = os.path.join(cache_dir, key + ".json")
            if os.path.exists(path):
                with open(path, encoding="utf-8") as fh:
                    out[name] = json.load(fh)["digest"]
                continue
            if con is None:
                import duckdb
                con = duckdb.connect()
                for t in corpus.TABLES:
                    con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{os.path.join(self.inputs, t)}.parquet'")
            rel = con.sql(self.oracles[name])
            out[name] = result_digest(rel.columns, rel.fetchall())
            with open(path, "w", encoding="utf-8") as fh:
                json.dump({"op": name, "digest": out[name]}, fh)
        if con is not None:
            con.close()
        return out

    # ------------------------------------------------------------- trace

    def _record(self, build_s: float, action_s: float, jobs_build: dict,
                jobs_act: dict, qe) -> None:
        vals = {"queries.build_s": build_s,
                "queries.build_jobs": jobs_build["jobs"],
                "exec.action_s": action_s}
        vals.update(catalyst_phases(qe))
        vals.update({f"exec.{k}": v for k, v in jobs_act.items()})
        vals.update(plan_layer_metrics(plan_metrics(qe.executedPlan())))
        for k, v in vals.items():
            self._acc[k] = self._acc.get(k, 0.0) + v

    def layer_metrics(self) -> dict[str, float]:
        """Median over traced warm passes of each per-pass layer sum."""
        keys = {k for acc in self.traced for k in acc}
        return {k: statistics.median(acc.get(k, 0.0) for acc in self.traced)
                for k in keys}
