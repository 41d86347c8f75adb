"""The workloads: inputs, set-up, one timed operation, output checks and
the per-layer ladder of the traced run.

Every workload is a closed loop driven by one client: the next operation
starts when the previous one returns.  Calls into the package go through
its public functions only, each wrapped in a tracer span named after the
layer (repo module) it enters.

A ladder rung is one action over the workload's input that adds one layer
to the rung below; it is timed as the median of ``RUNG_REPS`` repetitions
after one untimed warm-up, and a layer's self time is its rung minus the
rung below.
"""

from __future__ import annotations

import os
import re
import shutil
import statistics
import time

from pyspark.sql import functions as F

import gen

RUNG_REPS = 2
ORACLE_SAMPLE = 200


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _tree_nodes(df, col) -> int:
    """Number of nodes in *col*'s analyzed Catalyst expression over *df*."""
    plan = df.select(col.alias("__x"))._jdf.queryExecution().analyzed()
    return len(plan.expressions().apply(0).treeString().splitlines())


def _dir_bytes(path: str):
    total = files = 0
    for d, _s, fs in os.walk(path):
        for f in fs:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(d, f))
                files += 1
    return total, files


def _diff(expected: dict, got: dict, what: str) -> list:
    exp = {k: v for k, v in expected.items() if v}
    got = {k: v for k, v in got.items() if v}
    return [] if exp == got else ["%s: expected %s, got %s" % (what, exp, got)]


def audit_rules() -> list:
    """``span_rules()`` widened: type and allowed values on ``lang``, and a
    ``RuleOr`` of two regexes on ``source``."""
    from evalidate_spark.operators.spans import span_rules
    from evalidate_spark.spec import Allowed, Regexp, Rule, RuleOr, Type

    return span_rules() + [
        Rule(key="lang", presence="required", validators=[Type("binary"), Allowed(list(gen.LANGS))]),
        RuleOr([Rule(key="source", validators=[Regexp("^https://")]), Rule(key="source", validators=[Regexp("^s3://")])]),
    ]


def _check_report(spark, verdicts: list, sink: str, docs: int, failed: int, per_rule: dict) -> list:
    """``verdict_scan`` and the sink's rich verdicts agree on failed docs,
    and both equal the generator's count; the sink's violations per rule
    equal the generator's.  Removes *sink*."""
    try:
        fast_failed = sum(r["failed"] for r in verdicts)
        fast_rows = sum(r["rows"] for r in verdicts)
        rich = spark.read.parquet(sink + "/verdicts").agg(F.sum("failed"), F.sum("rows")).collect()[0]
        got = {
            r["rule_id"]: r["n"]
            for r in spark.read.parquet(sink + "/metrics")
            .groupBy("rule_id")
            .agg(F.sum("violations").alias("n"))
            .collect()
        }
    finally:
        shutil.rmtree(sink, ignore_errors=True)
    errs = []
    if not (fast_failed == rich[0] == failed) or not (fast_rows == rich[1] == docs):
        errs.append(
            "failed docs: verdict_scan %d, rich %s, expected %d (rows %d/%s/%d)"
            % (fast_failed, rich[0], failed, fast_rows, rich[1], docs)
        )
    return errs + _diff(per_rule, got, "violations per rule")


def rung(tr, name: str, layer: str, fn) -> float:
    """One ladder rung: an untimed warm-up call, then the median of
    ``RUNG_REPS`` timed calls, each in its own span."""
    fn()
    times = []
    for _ in range(RUNG_REPS):
        with tr.span(name, layer):
            t = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t)
    return statistics.median(times)


def scan_rung(tr, df) -> dict:
    return {"sources.scan_s": (rung(tr, "scan", "sources", lambda: _noop(df)), "s")}


def compile_metrics(tr, df, spec) -> dict:
    from evalidate_spark.compiler import compile_spec
    from evalidate_spark.spec import normalize_rules

    with tr.span("normalize_rules", "spec"):
        t = time.perf_counter()
        normalize_rules(spec)
        norm = time.perf_counter() - t
    with tr.span("compile_spec", "compiler"):
        t = time.perf_counter()
        compiled = compile_spec(spec, df.schema)
        comp = time.perf_counter() - t
    return {
        "spec.normalize_s": (norm, "s"),
        "compiler.compile_s": (comp, "s"),
        "compiler.expr_nodes": (float(_tree_nodes(df, compiled.violations)), "count"),
    }


class Workload:
    """Shared shape.  Subclasses set ``profile`` and ``files`` and
    implement ``prepare``, ``open``, ``warmup``, ``op``, ``check_op`` and
    ``ladder``; ``ladder`` returns ``(metrics, errors)``."""

    files = 16
    #: untimed operations after set-up: operation times on a fresh JVM
    #: keep falling for the first few (JIT), so timing starts after them
    warm_ops = 3

    def __init__(self, data: str, out: str, cores: int) -> None:
        self.data = data
        self.out = out
        self.cores = cores
        self.docs = 0
        self.spark = None
        os.makedirs(data, exist_ok=True)
        os.makedirs(out, exist_ok=True)

    def _open_splits(self, spark, path: str) -> None:
        """One file per input split: with the split cap and the per-file
        open cost both at the largest file's size, no two files share a
        split, so ``local[1]`` and ``local[cores]`` both get ``files``
        tasks."""
        biggest = max(os.path.getsize(f) for f in gen.parquet_files(path))
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(biggest))
        spark.conf.set("spark.sql.files.openCostInBytes", str(biggest))

    def warm(self, tr) -> list:
        """Untimed work after set-up, so timing starts warm: ``warm_ops``
        operations, checked like the timed ones.  Returns their errors."""
        errs = []
        for k in range(self.warm_ops):
            errs += self.check_op(self.op(-1 - k, tr))
        return errs

    def check_run(self) -> list:
        return []

    def extra_metrics(self, outs: list) -> dict:
        return {}



# ------------------------------------------------------------ ingest gate
class IngestGate(Workload):
    """~3% failing docs scored against ``span_rules()``: the verdict table
    from ``verdict_scan``, then the full report
    ``ResultSink.write(validate(...))``.  The traced run's engine and sink
    rungs use a second, dirty input instead."""

    profile = gen.DocProfile(n_docs=12_000)
    #: input of the engine and sink rungs: about half the docs fail
    #: :func:`audit_rules`, so violation construction does the work
    dirty_profile = gen.DocProfile(
        n_docs=6_000, dirty=500, null_id=100, empty_id=60, empty_spans=40,
        bad_kind=600, neg_offset=600, bad_lang=500, bad_scheme=500,
    )
    scaling_reps = 2

    def prepare(self, seed: int) -> None:
        self.seed = seed
        self.path = os.path.join(self.data, "docs")
        self.exp = gen.write_docs(self.profile, seed, self.path, self.files)
        self.docs = self.exp["docs"]
        self.dirty_path = os.path.join(self.data, "dirty")
        self.dirty_exp = gen.write_docs(self.dirty_profile, seed, self.dirty_path, self.files)

    def open(self, spark) -> None:
        from evalidate_spark.compiler import compile_spec
        from evalidate_spark.fastpath import compile_fail_predicate
        from evalidate_spark.operators.spans import span_rules
        from evalidate_spark.spec import normalize_rules

        self.spark = spark
        self._open_splits(spark, self.path)
        self.df = spark.read.parquet(self.path)
        self.spec = span_rules()
        normalize_rules(self.spec)
        compile_spec(self.spec, self.df.schema)
        compile_fail_predicate(self.spec, self.df.schema)

    def warmup(self) -> None:
        from evalidate_spark import verdict_scan

        verdict_scan(self.df, self.spec).collect()

    def op(self, k: int, tr) -> dict:
        from evalidate_spark import validate, verdict_scan
        from evalidate_spark.sources import ResultSink

        sink = os.path.join(self.out, "sink-%d" % k)
        t = time.perf_counter()
        with tr.span("verdict_scan", "fastpath"):
            verdicts = verdict_scan(self.df, self.spec).collect()
        verdict_s = time.perf_counter() - t
        with tr.span("validate", "engine"):
            res = validate(self.df, self.spec, id_cols=["doc_id"])
        with tr.span("ResultSink.write", "sources"):
            ResultSink(sink).write(res)
        return {"verdict_s": verdict_s, "verdicts": verdicts, "sink": sink}

    def check_op(self, out: dict) -> list:
        return _check_report(
            self.spark, out["verdicts"], out["sink"], self.docs, self.exp["failed"], self.exp["violations"]
        )

    def check_run(self) -> list:
        """A sample of ~200 docs agrees on first error with the oracle."""
        from evalidate_spark import oracle, validate

        frac = min(1.0, ORACLE_SAMPLE / max(self.docs, 1))
        sample = self.df.sample(fraction=frac, seed=self.seed)
        rows = validate(sample, self.spec, id_cols=["doc_id"]).annotated.collect()
        errs = [] if rows else ["oracle sample is empty"]
        for row in rows:
            d = row.asDict(recursive=True)
            want = oracle.first_error(self.spec, {c: d[c] for c in gen.DOC_COLUMNS})
            want = None if want is None else (want["message"] if isinstance(want, dict) else str(want))
            got = d["first_error"]["message"] if d["first_error"] else None
            if want != got:
                errs.append("oracle first error differs for %r: %r vs %r" % (d["doc_id"], want, got))
        return errs[:5]

    def extra_metrics(self, outs: list) -> dict:
        vs = [o["verdict_s"] for o in outs]
        return {"verdict_docs_per_s": (self.docs / statistics.median(vs), "docs/s", len(vs))} if vs else {}

    def ladder(self, tr, store):
        from evalidate_spark import verdict_scan
        from evalidate_spark.fastpath import compile_fail_predicate

        df, spec = self.df, self.spec
        L = compile_metrics(tr, df, spec)
        with tr.span("compile_fail_predicate", "fastpath"):
            t = time.perf_counter()
            pred = compile_fail_predicate(spec, df.schema)
            L["fastpath.compile_s"] = (time.perf_counter() - t, "s")
        L.update(scan_rung(tr, df))
        pruned = df.select("doc_id", "spans.kind", "spans.offset")
        scan_p = rung(tr, "pruned_scan", "sources", lambda: _noop(pruned))
        L["sources.pruned_scan_s"] = (scan_p, "s")
        plan = verdict_scan(df, spec)._jdf.queryExecution().executedPlan().toString()
        m = re.search(r"ReadSchema: (struct<.*?>)\s*$", plan, re.M)
        L["sources.read_schema_leaves"] = (
            float(len(re.findall(r":(?!struct<|array<|map<)[a-z]", m.group(1)))) if m else None,
            "count",
        )
        pred_s = rung(tr, "predicate", "fastpath", lambda: _noop(df.select(pred)))
        verdict = rung(tr, "verdict_scan", "fastpath", lambda: verdict_scan(df, spec).collect())
        L["fastpath.predicate_s"] = (pred_s - scan_p, "s")
        L["fastpath.verdict_s"] = (verdict - pred_s, "s")
        engine, errs = self._engine_rungs(tr)
        L.update(engine)
        ops, op_errs = self._table_operators(tr)
        L.update(ops)
        units, unit_errs = self._checkpoint_rungs(tr, store)
        L.update(units)
        return L, errs + op_errs + unit_errs

    def _engine_rungs(self, tr):
        """Engine and sink rungs over the dirty input and
        :func:`audit_rules`; the last sink write is checked against the
        generator like an operation's report."""
        from evalidate_spark import validate, verdict_scan
        from evalidate_spark.sources import ResultSink

        df, spec, docs = self.spark.read.parquet(self.dirty_path), audit_rules(), self.dirty_exp["docs"]
        L = {}
        verdict = rung(tr, "verdict_scan", "fastpath", lambda: verdict_scan(df, spec).collect())
        res = validate(df, spec, id_cols=["doc_id"])
        annotate = rung(tr, "annotated", "engine", lambda: _noop(res.annotated))
        viol = rung(tr, "violations", "engine", lambda: _noop(res.violations))
        rich = rung(tr, "verdicts", "engine", lambda: res.verdicts.collect())
        L["engine.annotate_s"] = (annotate, "s")
        # both rungs end in the same per-partition aggregate, so their
        # difference is what building the violations costs
        L["engine.construct_s"] = (rich - verdict, "s")
        L["engine.violations_s"] = (viol - annotate, "s")
        L["engine.verdicts_s"] = (rich - annotate, "s")
        failed = sum(r["failed"] for r in res.verdicts.collect())
        L["engine.failed_rows"] = (float(failed), "count")
        L["engine.violation_rows"] = (float(res.violations.count()), "count")
        L["engine.rich_row_ratio"] = (failed / docs, "ratio")

        sink = os.path.join(self.out, "ladder-sink")

        def write():
            shutil.rmtree(sink, ignore_errors=True)
            ResultSink(sink).write(res)

        L["sources.sink_write_s"] = (rung(tr, "ResultSink.write", "sources", write) - annotate, "s")
        nbytes, nfiles = _dir_bytes(sink)
        L["sources.bytes_written"] = (float(nbytes), "bytes")
        L["sources.files_written"] = (float(nfiles), "count")
        errs = _check_report(
            self.spark, verdict_scan(df, spec).collect(), sink, docs,
            self.dirty_exp["audit_failed"], self.dirty_exp["audit_violations"],
        )
        res.annotated.persist()
        try:
            res.annotated.count()
            infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
            L["sources.persist_bytes"] = (float(sum(i.memSize() + i.diskSize() for i in infos)), "bytes")
        finally:
            res.annotated.unpersist()
        return L, errs

    def _table_operators(self, tr):
        """Span structure, uniqueness on ``doc_id`` (hot keys) and dangling
        ``media_refs`` against the seeded catalog, each checked against the
        generator's counts."""
        from evalidate_spark.operators.spans import media_refs, span_structure_violations
        from evalidate_spark.operators.table_checks import referential_violations, uniqueness_violations

        df = self.df
        catalog = gen.media_catalog(self.spark, self.profile, self.seed)
        structure = span_structure_violations(df)
        dups = uniqueness_violations(df, "doc_id")
        dangling = referential_violations(media_refs(df), "media_ref", catalog, "media_ref")
        L = {
            "operators.spans.structure_s": (
                rung(tr, "span_structure_violations", "operators.spans", lambda: _noop(structure)),
                "s",
            ),
            "operators.table_checks.uniqueness_s": (
                rung(tr, "uniqueness_violations", "operators.table_checks", dups.collect),
                "s",
            ),
            "operators.table_checks.referential_s": (
                rung(tr, "referential_violations", "operators.table_checks", dangling.count),
                "s",
            ),
        }
        errs = _diff(
            self.exp["structure"],
            {r["rule_id"]: r["count"] for r in structure.groupBy("rule_id").count().collect()},
            "span structure",
        )
        errs += _diff(
            self.exp["duplicate_keys"], {r["doc_id"]: r["dup_count"] for r in dups.collect()}, "duplicate keys"
        )
        n = dangling.count()
        if n != self.exp["dangling_refs"]:
            errs.append("dangling refs: expected %d, got %d" % (self.exp["dangling_refs"], n))
        return L, errs

    def _checkpoint_rungs(self, tr, store):
        """``CheckpointedRun`` over the same input in two 8-file units, with
        profile and uniqueness states: per-unit job, stage and scan counts,
        the state-family costs, and a kill-and-resume run (one unit, then a
        fresh run resumes the other) whose totals and manifest count must
        equal both a one-shot run and the generator's counts."""
        from evalidate_spark.checkpoint import CheckpointedRun
        from evalidate_spark.operators.table_checks import profile_state, uniqueness_state

        def new_run(out):
            return CheckpointedRun(
                self.spark, self.path, self.spec, out, files_per_unit=8,
                profile_columns=("doc_id", "lang"), uniqueness_columns=("doc_id",),
            )

        def totals(run, out):
            s = run.run(max_units=0)
            manifests = len([f for f in os.listdir(os.path.join(out, "manifest")) if f.endswith(".json")])
            shutil.rmtree(out, ignore_errors=True)
            return (s["total_units_done"], manifests, s["rows"], s["failed_rows"])

        L = {}
        killed = os.path.join(self.out, "ckpt-resumed")
        first = new_run(killed)
        with tr.span("pending_units", "checkpoint"):
            t = time.perf_counter()
            unit = first.pending_units()[0]
            L["checkpoint.list_s"] = (time.perf_counter() - t, "s")
        store.mark()
        with tr.span("CheckpointedRun.run", "checkpoint"):
            t = time.perf_counter()
            first.run(max_units=1)
            wall = time.perf_counter() - t
        d = store.delta(wall, self.cores)
        unit_bytes = sum(os.path.getsize(f) for f in unit["files"])
        L["checkpoint.unit_s"] = (wall, "s")
        L["checkpoint.jobs_per_unit"] = (d and d["jobs"], "count")
        L["checkpoint.stages_per_unit"] = (d and d["stages"], "count")
        read = d and d["sql.files_read_bytes"]
        L["checkpoint.scan_amplification"] = (None if read is None else read / unit_bytes, "ratio")
        resumed = new_run(killed)  # the "killed" run is never touched again
        with tr.span("CheckpointedRun.run", "checkpoint"):
            resumed.run()
        oneshot = os.path.join(self.out, "ckpt-oneshot")
        one = new_run(oneshot)
        with tr.span("CheckpointedRun.run", "checkpoint"):
            one.run()
        got, ref = totals(resumed, killed), totals(one, oneshot)
        want = (2, 2, self.docs, self.exp["failed"])
        errs = [] if got == ref == want else [
            "checkpoint (units, manifests, rows, failed): resumed %s, one-shot %s, expected %s" % (got, ref, want)
        ]
        udf = self.spark.read.parquet(*unit["files"])
        L["operators.table_checks.profile_state_s"] = (
            rung(tr, "profile_state", "operators.table_checks", lambda: profile_state(udf, ["doc_id", "lang"], "u").collect()),
            "s",
        )
        L["operators.table_checks.uniqueness_state_s"] = (
            rung(tr, "uniqueness_state", "operators.table_checks", lambda: uniqueness_state(udf, ["doc_id"], "u").collect()),
            "s",
        )
        return L, errs

    def scaling_leg(self, sessions, t_full: float) -> dict:
        """The same operation at ``local[1]``, in its own session.
        Efficiency = T(local[1]) / (cores · T(local[cores]))."""
        from tracing import Tracer

        sessions.stop()
        self.open(sessions.start(1))
        self.warmup()
        times = []
        for k in range(self.scaling_reps):
            t = time.perf_counter()
            out = self.op(1000 + k, Tracer(enabled=False))
            times.append(time.perf_counter() - t)
            if self.check_op(out):
                return {"scaling_eff_1to%d" % self.cores: (None, "ratio", 0)}
        t1 = statistics.median(times)
        return {
            "scaling_eff_1to%d" % self.cores: (t1 / (self.cores * t_full), "ratio", len(times)),
            "op_s_local1": (t1, "s", len(times)),
        }


# ------------------------------------------------------------ near-dup text
class NearDupText(Workload):
    """MinHash LSH candidates through the Arrow signature UDF, plus the
    per-doc repetition signals, over text with planted twins and one
    boilerplate template whose bucket exceeds ``max_bucket``: the only
    workload that crosses the Arrow/Python boundary."""

    profile = gen.TextProfile(n_docs=2_000)
    max_bucket = 64
    warm_ops = 2  # warmup() already ran both operators on every split

    def prepare(self, seed: int) -> None:
        self.path = os.path.join(self.data, "texts")
        self.exp = gen.write_texts(self.profile, seed, self.path, self.files)
        self.docs = self.exp["docs"]

    def open(self, spark) -> None:
        self.spark = spark
        self._open_splits(spark, self.path)
        self.df = spark.read.parquet(self.path)

    def warmup(self) -> None:
        from evalidate_spark.functions.dedup import minhash_candidates
        from evalidate_spark.functions.text import repetition_signals

        # a few docs from every input split, so each core's Python worker
        # starts here
        sample = self.df.filter(F.pmod(F.col("doc_id"), F.lit(64)) == 0)
        minhash_candidates(sample, arrow=True, max_bucket=self.max_bucket).count()
        _noop(repetition_signals(sample))

    def op(self, k: int, tr) -> dict:
        from evalidate_spark.functions.dedup import minhash_candidates
        from evalidate_spark.functions.text import repetition_signals

        with tr.span("minhash_candidates", "functions.dedup"):
            pairs = minhash_candidates(self.df, arrow=True, max_bucket=self.max_bucket).collect()
        with tr.span("repetition_signals", "functions.text"):
            rep = repetition_signals(self.df)
            sig = [c for c in rep.columns if c.endswith("_bp")]
            stats = rep.agg(
                F.count(F.lit(1)).alias("rows"),
                *[F.count(c).alias("nn_" + c) for c in sig],
                F.least(*[F.min(c) for c in sig]).alias("lo"),
                F.greatest(*[F.max(c) for c in sig]).alias("hi"),
            ).collect()[0]
        return {"pairs": pairs, "rep": stats.asDict(), "sig": sig}

    def check_op(self, out: dict) -> list:
        """Every planted twin is a candidate; the boilerplate bucket yields
        exactly the capped pairs, all ``truncated``; repetition signals
        cover every doc within [0, 10000]."""
        errs = []
        got = {(r["id_a"], r["id_b"]): r["truncated"] for r in out["pairs"]}
        missing = [tuple(p) for p in self.exp["planted_pairs"] if tuple(p) not in got]
        if missing:
            errs.append("%d planted twins missing from candidates, e.g. %s" % (len(missing), missing[:3]))
        lo, hi = self.exp["boiler_ids"]
        boiler = [t for (a, b), t in got.items() if lo <= a and b <= hi]
        want = self.max_bucket * (self.max_bucket - 1) // 2
        if len(boiler) != want or not all(boiler):
            errs.append("boilerplate bucket: %d pairs (want %d), all truncated=%s" % (len(boiler), want, all(boiler)))
        rep = out["rep"]
        if rep["rows"] != self.docs or any(rep["nn_" + c] != self.docs for c in out["sig"]):
            errs.append("repetition_signals: %s for %d docs" % (rep, self.docs))
        elif not (0 <= rep["lo"] and rep["hi"] <= 10_000):
            errs.append("repetition_signals out of [0, 10000]: %s" % rep)
        return errs

    def ladder(self, tr, store):
        from evalidate_spark.functions.dedup import minhash_candidates
        from evalidate_spark.functions.text import repetition_signals

        df = self.df
        L = scan_rung(tr, df)
        cand = minhash_candidates(df, arrow=True, max_bucket=self.max_bucket)
        store.mark()
        t = time.perf_counter()
        with tr.span("minhash_candidates", "functions.dedup"):
            pairs = cand.collect()
        window = store.delta(time.perf_counter() - t, self.cores) or {}
        for key in ("python.arrow_bytes_sent", "python.arrow_bytes_returned", "python.udf_s", "python.worker_init_s"):
            L[key] = (window.get(key), "s" if key.endswith("_s") else "bytes")
        L["functions.dedup.minhash_s"] = (
            rung(tr, "minhash_candidates", "functions.dedup", lambda: _noop(cand)),
            "s",
        )
        L["functions.dedup.candidate_pairs"] = (float(len(pairs)), "count")
        L["functions.dedup.truncated_pairs"] = (float(sum(1 for r in pairs if r["truncated"])), "count")
        L["functions.text.repetition_s"] = (
            rung(tr, "repetition_signals", "functions.text", lambda: _noop(repetition_signals(df))),
            "s",
        )
        return L, []


WORKLOADS = {
    "ingest_gate": IngestGate,
    "near_dup_text": NearDupText,
}
