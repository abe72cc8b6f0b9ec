"""The ``etl_dag`` workload: the paper's daily batch ETL on a generated
drop zone.

The eight nodes are those of ``plans/reference_dag.py`` (sync,
snapshot of the input, sources2csr, csr2transmart, snapshot of the
staging files, transactional load, post-load REST calls, snapshot of
the load log), wired from the same public calls. They are rebuilt here
rather than taken from ``build_reference_dag`` because that function
reads the reference checkout's own config, while this workload reads
the config generated with its drop zone.

One run makes a cold pass on a fresh root, then no-change passes, in
which every node checks its done-signal and skips. A traced run ends
with one pass after a source row changed, in which every node runs
again on a warm JVM.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from perfbench import dropzone as DZ
from perfbench.trace import (JobWindow, PlanMetricsListener, Tracer,
                             plan_layer_metrics, tree_cpu_s)

NODES = ("update_data_files", "git_commit_input", "sources2csr",
         "csr2transmart", "git_commit_staging", "transmart_loader",
         "transmart_api", "git_commit_load_logs")

#: drop-zone size; the passes are bound by per-job overhead, so a
#: larger drop zone adds little time until well past this
N_INDIVIDUALS = 5000
TOP_NODE = "\\Central Subject Registry\\"


class _CompletedHttp:
    """Post-load REST stub: every call succeeds, the update completes."""

    class _Resp:
        ok = True
        status_code = 200

        def __init__(self, payload):
            self._payload = payload

        def json(self):
            return self._payload

    def __call__(self, method, url, headers=None, params=None):
        if url.endswith("/token"):
            return self._Resp({"access_token": "token"})
        return self._Resp({"status": "COMPLETED"})


def build_dag(spark, *, root: str, dropzone: str, config_path: str,
              ontology_path: str, tracer: Tracer):
    """The eight tasks and the dict of row counts they fill in."""
    from pmc_conversion_spark.plans import reference_e2e as RE
    from pmc_conversion_spark.plans import transmart as TM
    from pmc_conversion_spark.plans.incremental import Task
    from pmc_conversion_spark.plans.ontology import ontology_df
    from pmc_conversion_spark.plans.post_load import TransmartPostLoadClient
    from pmc_conversion_spark.queries.manifest import fixture_df
    from pmc_conversion_spark.sources.scans import (manifest_with_checksums,
                                                    scan_csv_delim)
    from pmc_conversion_spark.sources.sinks import (SnapshotStore,
                                                    tx_swap_write, write_tsv)
    from pyspark.sql import functions as F

    input_data = os.path.join(root, "input_data")
    working = os.path.join(root, "working")
    staging = os.path.join(root, "staging")
    live_db = os.path.join(root, "db_live")
    staged_obs = os.path.join(staging, "i2b2demodata", "observation_fact.tsv")
    counts: dict[str, int] = {}
    api = TransmartPostLoadClient(
        keycloak_url="http://keycloak.invalid", transmart_url="http://tm.invalid",
        gb_backend_url="http://gb.invalid", client_id="bench",
        offline_token="token", http=_CompletedHttp(), sleep=lambda s: None)

    def update_data_files() -> None:
        shutil.rmtree(input_data, ignore_errors=True)
        shutil.copytree(dropzone, input_data)

    def git_commit_input() -> None:
        store = SnapshotStore(os.path.join(root, "snap_input"))
        m = manifest_with_checksums(spark, input_data)
        counts["input_files"] = store.commit(m.select("path", "sha1"))["n_rows"]

    def sources2csr() -> None:
        csr = RE.build_csr(spark, data_dir=input_data, config_path=config_path)
        for name, df in csr.items():
            write_tsv(df.select([F.col(c).cast("string") for c in df.columns]),
                      os.path.join(working, name), single_file=True)
        counts["individual_rows"] = csr["Individual"].count()

    def csr2transmart() -> None:
        csr = RE.read_csr(spark, working, config_path=config_path)
        ont = ontology_df(spark, RE.load_ontology_nodes(ontology_path),
                          TOP_NODE)
        tabs = TM.build_staging(spark, csr, ont, "CSR", TOP_NODE + "\\")
        TM.write_staging(tabs, staging)
        counts["observation_rows"] = tabs["observation_fact"].count()

    def git_commit_staging() -> None:
        store = SnapshotStore(os.path.join(root, "snap_staging"))
        counts["staged_obs"] = store.commit(
            scan_csv_delim(spark, staged_obs))["n_rows"]

    def transmart_loader() -> None:
        tx_swap_write(scan_csv_delim(spark, staged_obs), live_db)
        counts["loaded_obs"] = scan_csv_delim(spark, live_db).count()

    def transmart_api() -> None:
        counts["post_load_status"] = int(api.run_post_load(
            max_retries=5, interval_s=0.0) == "COMPLETED")

    def git_commit_load_logs() -> None:
        store = SnapshotStore(os.path.join(root, "snap_logs"))
        store.commit(fixture_df(spark, sorted(counts.items()),
                                "metric string, value long"))

    fns = dict(zip(NODES, (update_data_files, git_commit_input, sources2csr,
                           csr2transmart, git_commit_staging,
                           transmart_loader, transmart_api,
                           git_commit_load_logs)))
    inputs = {"update_data_files": dropzone, "git_commit_input": input_data,
              "sources2csr": input_data, "csr2transmart": working,
              "git_commit_staging": staging, "transmart_loader": staging,
              "transmart_api": live_db, "git_commit_load_logs": live_db}
    tasks: list[Task] = []
    for name in NODES:
        tasks.append(Task(
            name, [inputs[name]], tracer.wrap(f"dag.{name}", fns[name]),
            required_tasks=tasks[-1:],
            resources={"transmart_loader": 1}
            if name == "transmart_loader" else {}))
    return tasks, counts


class EtlDag:
    """One run of the workload: ``setup`` makes inputs, ``cold_pass`` and
    ``warm_pass`` are timed, every pass is checked outside its timing."""

    name = "etl_dag"
    #: per-layer metrics this workload prints as 0: the DAG calls no
    #: registered query function
    NOT_APPLICABLE = ("queries.build_s", "queries.build_jobs")
    #: no-change passes behind ``warm_cpu_s``, about 7 s of them
    WARM_PASSES = 4

    def __init__(self, spark, work: str, seed: int, tracer: Tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.errors: list[str] = []
        self.passes = self.failed_passes = 0
        self.write_amp = 0.0
        #: seconds of each done-signal check in a pass
        self.checks: list[float] = []
        #: (pass kind, layer values) per traced pass
        self.traced: list[tuple[str, dict[str, float]]] = []

    def setup(self) -> None:
        """Generate a fresh drop zone and configs under a new directory."""
        self.dz = DZ.DropZone.generate(self.seed, N_INDIVIDUALS)
        base = os.path.join(self.work, "etl")
        self.dropzone = os.path.join(base, "dropzone")
        self.dz.write(self.dropzone)
        self.config_path, self.ontology_path = DZ.write_configs(
            os.path.join(base, "config"))
        self.root = os.path.join(base, "run")

    def _runner(self):
        from pmc_conversion_spark.plans.incremental import (DagRunner,
                                                            SignalStore)
        self.tasks, self.counts = build_dag(
            self.spark, root=self.root, dropzone=self.dropzone,
            config_path=self.config_path, ontology_path=self.ontology_path,
            tracer=self.tracer)
        runner = DagRunner(self.spark, SignalStore(
            os.path.join(self.root, "signals")),
            resources={"transmart_loader": 1})
        fingerprint = self.tracer.wrap("incremental.fingerprint",
                                       runner.input_signal)

        def timed_signal(task):
            t0 = time.perf_counter()
            try:
                return fingerprint(task)
            finally:
                self.checks.append(time.perf_counter() - t0)
        runner.input_signal = timed_signal
        return runner

    def _pass(self, kind: str) -> tuple[float, float]:
        """Run the DAG once and check it; returns its (seconds, CPU
        seconds)."""
        op = self.tracer.new_op()
        if self.tracer.enabled:
            window = JobWindow(self.spark)
            with PlanMetricsListener(self.spark) as plans:
                cost = self._timed_pipeline(kind)
            self._record(kind, op, window.collect(), plans)
        else:
            cost = self._timed_pipeline(kind)
        self.passes += 1
        n_errors = len(self.errors)
        self._check(kind, self.statuses)
        self.failed_passes += len(self.errors) > n_errors
        return cost

    def _timed_pipeline(self, kind: str) -> tuple[float, float]:
        c0, t0 = tree_cpu_s(), time.perf_counter()
        with self.tracer.span(f"dag.{kind}_pass"):
            self.statuses = self.runner.run_pipeline(self.tasks)
        return time.perf_counter() - t0, tree_cpu_s() - c0

    def cold_pass(self) -> tuple[float, float]:
        self.runner = self._runner()
        cost = self._pass("cold")
        self.write_amp = (DZ.tree_bytes(self.root)
                          / DZ.tree_bytes(self.dropzone))
        return cost

    def warm_pass(self):
        """A no-change pass; its ops are the eight done-signal checks.
        Returns the pass's (seconds, CPU seconds) and the seconds of
        each op."""
        self.checks = []
        cost = self._pass("noop")
        return cost, list(self.checks)

    def incr_pass(self) -> None:
        """A pass after one source row changed: every node runs."""
        self.dz.change_one_row(self.dropzone)
        self._pass("incr")

    def attempted(self) -> int:
        return self.passes

    def failed(self) -> int:
        return self.failed_passes

    # ------------------------------------------------------------ checks

    def _check(self, kind: str, statuses) -> None:
        want = "skipped" if kind == "noop" else "ran"
        bad = [(t, s) for t, s in statuses if s != want]
        if len(statuses) != len(NODES) or bad:
            self.errors.append(f"{kind} pass statuses {statuses}")
            return
        if kind == "noop":
            return
        expected = self.dz.expected_counts()
        total = sum(expected.values())
        got = {k: self.counts.get(k) for k in
               ("individual_rows", "observation_rows", "staged_obs",
                "loaded_obs", "post_load_status")}
        want_counts = {"individual_rows": N_INDIVIDUALS,
                       "observation_rows": total, "staged_obs": total,
                       "loaded_obs": total, "post_load_status": 1}
        if got != want_counts:
            self.errors.append(f"{kind} pass counts {got} != {want_counts}")
        loaded = self._loaded_concept_counts()
        if loaded != expected:
            diff = {k: (loaded.get(k), v) for k, v in expected.items()
                    if loaded.get(k) != v}
            self.errors.append(f"{kind} pass concept counts differ: {diff}")

    def _loaded_concept_counts(self) -> dict[str, int]:
        from pmc_conversion_spark.sources.scans import scan_csv_delim
        rows = (scan_csv_delim(self.spark, os.path.join(self.root, "db_live"))
                .groupBy("concept_cd").count().collect())
        return {r["concept_cd"]: r["count"] for r in rows}

    # ------------------------------------------------------------- trace

    def _record(self, kind: str, op: int, jobs: dict[str, float],
                plans: PlanMetricsListener) -> None:
        tot = self.tracer.totals({op})
        vals = {f"dag.{kind}_pass_s": tot.get(f"dag.{kind}_pass", 0.0),
                "incremental.fingerprint_s":
                    tot.get("incremental.fingerprint", 0.0),
                "incremental.fingerprints": sum(
                    1 for s in self.tracer.spans
                    if s.op == op and s.name == "incremental.fingerprint"),
                "incremental.nodes_run":
                    sum(1 for n in NODES if f"dag.{n}" in tot),
                "exec.action_s": sum(tot.get(f"dag.{n}", 0.0) for n in NODES)}
        vals.update({f"dag.{n}_s": tot.get(f"dag.{n}", 0.0) for n in NODES})
        vals.update({f"exec.{k}": v for k, v in jobs.items()})
        vals.update(plan_layer_metrics(plans.totals))
        vals.update(plans.phases)
        self.traced.append((kind, vals))

    def layer_metrics(self) -> dict[str, float]:
        """Medians over traced passes: node, execution and plan counters
        from the one-row-change pass, fingerprinting from the no-change
        passes, write amplification from the cold pass."""
        def med(kind: str, key: str) -> float:
            xs = [v.get(key, 0.0) for k, v in self.traced if k == kind]
            return statistics.median(xs) if xs else 0.0
        out = {k: med("incr", k) for k in
               [f"dag.{n}_s" for n in NODES]
               + ["dag.incr_pass_s", "exec.action_s", "exec.jobs",
                  "exec.stages", "exec.tasks", "exec.failed_tasks",
                  "exec.shuffle_write_bytes", "exec.spill_bytes",
                  "exec.broadcast_bytes", "python.eval_s", "python.boot_s",
                  "python.io_bytes", "python.rows", "catalyst.parse_s",
                  "catalyst.analysis_s", "catalyst.optimization_s",
                  "catalyst.planning_s"]}
        out["dag.noop_pass_s"] = med("noop", "dag.noop_pass_s")
        out["incremental.fingerprint_s"] = med("noop",
                                               "incremental.fingerprint_s")
        out["incremental.fingerprints"] = med("noop",
                                              "incremental.fingerprints")
        out["incremental.nodes_run"] = med("noop", "incremental.nodes_run")
        out["sinks.write_amp"] = self.write_amp
        return out
