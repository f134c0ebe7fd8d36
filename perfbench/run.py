#!/usr/bin/env python3
"""biokg_spark benchmark: one closed-loop client driving one Spark session.

    python3 perfbench/run.py --workload pipeline_cold --seed 1 --seconds 1 --trace 0

Run from the repository root. One process starts one ``session.get_spark``
session at ``local[nproc]`` with nproc shuffle partitions, writes the
workload's inputs, runs one untimed warm-up op, then runs ops back to back
(each starts after the previous one returns) until ``--seconds`` have
passed and at least ``MIN_OPS`` have run; end-to-end
metrics are medians over those ops. Every op's output is checked against
an independent oracle outside the timed region. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the ``end_to_end``
metrics of BENCHMARK.json, or with ``--trace 1`` its ``per_layer`` metrics,
taken from one traced op run in place of the timed ones. The process exits non-zero when any op
raised or failed its check.

Workloads (why each exists: BENCHMARK.json and perfbench/LAYERS.md):
- pipeline_cold: one ``KGPipeline.run`` into a fresh workdir.
- dedup_pairs: one pass over the three dedup-pair ``REGISTRY`` queries on
  a slice of the sf0.1 tables, each built and written to a parquet sink.

Everything a run writes stays under ``.bench_build/perfbench`` in the
checkout: the per-process work dir is removed on exit; the cached
``datagen`` tables, DuckDB oracle results and trace reports stay.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import pickle
import random
import shutil
import sys
import tempfile
import time
import traceback

from check import check_pipeline, check_query_sink, pipeline_oracle, query_oracles
from spans import Tracer, critical_path, median, self_times

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
# timed ops per run: with run_seconds at 1 this count, not the time window,
# sets how many ops the median covers, whatever the host's speed
MIN_OPS = 2
# dedup_pairs input: the first 1000 ``embeddings`` and 1500 ``documents``
# rows of the sf0.1 tables (half and three tenths of them), so a run with its
# warm-up pass and two timed passes stays within about a minute on 4 cores
DATA_DIR = os.path.join(HERE, "data", "dedup")

# dedup_pairs pass: the pair joins of operators.dedup and operators.clustering
PASS_QUERIES = ["dedup_embedding_cosine", "corpus_semantic_dedup", "dedup_containment"]

# pipeline_cold input: 250 of the 3200 conversations of one fixed datagen
# table, drawn by the seed, so each seed draws other conversations from the
# same generator (datagen takes no seed)
BASE_CONVERSATIONS = 3200
CONVERSATIONS = 250
WORDS_PER_TURN = 40
DIMS = ("entity_lexicon", "id_mapping", "ontology")

# checkpoint stages as reported; the four quad families form one layer
STAGES = [
    "ingest", "mentions", "extracted", "turn_sets", "metadata", "properties",
    "links_prov", "links", "quad_families",
]
QUAD_FAMILIES = ("quads", "action_quads", "expr_quads", "phos_quads")
# a traced pipeline_cold run also resumes its traced op: it deletes these
# stage dirs, reruns, and expects exactly SCAN_STAGES served from checkpoint
EMIT_STAGES = (
    "metadata", "properties", "phos_quads", "links_prov", "links", "quads",
    "action_quads", "expr_quads",
)
SCAN_STAGES = ("extracted", "ingest", "mentions", "turn_sets")
# stage -> the stages whose checkpoints it reads (KGPipeline.run); metadata
# reads mentions through the un-checkpointed ``linked`` view
STAGE_DEPS = {
    "mentions": ("ingest",),
    "extracted": ("ingest",),
    "turn_sets": ("mentions",),
    "metadata": ("mentions",),
    "phos_quads": ("extracted",),
    "links_prov": ("turn_sets", "ingest"),
    "links": ("links_prov",),
    "quads": ("turn_sets", "extracted"),
    "action_quads": ("turn_sets", "extracted"),
    "expr_quads": ("turn_sets", "extracted"),
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, fn))
        for root, _dirs, files in os.walk(path)
        for fn in files
    )


def maybe_span(tracer, name, op=None, parent=None):
    return contextlib.nullcontext() if tracer is None else tracer.span(name, op, parent)


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class PipelineCold:
    """One op = one ``KGPipeline.run`` into a fresh workdir."""

    def __init__(self, spark, seed: int, run_dir: str):
        self.spark, self.seed, self.run_dir = spark, seed, run_dir
        self.base, self.gen_s = cached_datagen(spark)  # untimed

    def _workdir(self, i: int) -> str:
        return os.path.join(self.run_dir, "ops", f"op{i}")

    def write_inputs(self) -> None:
        """Write this seed's draw of conversations from the base tables
        generated once per checkout."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        all_tx = pq.read_table(os.path.join(self.base, "transcripts"))
        ids = sorted(set(all_tx.column("conv_id").to_pylist()))
        drawn = pa.array(random.Random(self.seed).sample(ids, CONVERSATIONS))
        tx = all_tx.filter(pc.is_in(all_tx.column("conv_id"), value_set=drawn))
        tx_path = os.path.join(self.run_dir, "inputs", "transcripts")
        os.makedirs(tx_path)
        step = -(-tx.num_rows // nproc())
        for k in range(nproc()):
            # INT96 timestamps, as Spark wrote them, read back as TIMESTAMP
            pq.write_table(
                tx.slice(k * step, step),
                os.path.join(tx_path, f"part-{k:05d}.parquet"),
                use_deprecated_int96_timestamps=True,
            )
        self.tx = self.spark.read.parquet(tx_path)
        self.lex, self.mapping, self.onto = (
            self.spark.read.parquet(os.path.join(self.base, n)) for n in DIMS
        )
        self.rows = tx.num_rows

    def prepare_check(self) -> None:
        """The oracle's expected sets for this seed's draw, computed by the
        first run of the seed in a checkout and read back by later ones."""
        path = os.path.join(WORK, f"oracle-kg-{source_key()}-seed{self.seed}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                self.expected = pickle.load(f)
            return
        self.expected = pipeline_oracle(self.tx, self.lex, self.mapping, self.onto)
        tmp = path + f".tmp{os.getpid()}"
        with open(tmp, "wb") as f:
            pickle.dump(self.expected, f)
        os.replace(tmp, path)

    def warm_up(self):
        return self.run_op(-1)

    def run_op(self, i: int, tracer=None, op_span=None):
        return self._run(self._workdir(i), tracer, op_span)

    def _run(self, workdir: str, tracer=None, op_span=None):
        from biokg_spark.pipeline import KGPipeline

        pipe = KGPipeline(
            self.spark, workdir, self.lex, self.mapping, self.onto,
            buckets=nproc(),
        )
        if tracer is not None:
            trace_stages(pipe, tracer, op_span)
        return pipe, pipe.run(self.tx, run_key="perfbench")

    def check(self, i: int, result) -> str | None:
        return check_pipeline(result[1], self.expected)

    def cleanup(self, i: int) -> int:
        """Bytes op ``i`` wrote; frees its workdir."""
        written = dir_bytes(self._workdir(i))
        shutil.rmtree(self._workdir(i))
        return written

    def layer_metrics(self, tracer, op_span, result) -> dict:
        return {"datagen.gen_s": self.gen_s, **pipeline_layers(tracer, op_span, result[0])}

    def traced_resume(self, tracer, i: int) -> tuple[dict, str | None]:
        """Rerun the checked op ``i`` in its workdir, under spans, after
        deleting its emit-phase stage dirs; the checkpoint read-side
        metrics, and a check failure or None. Exactly ``SCAN_STAGES`` must
        be served from their manifests."""
        for name in EMIT_STAGES:
            shutil.rmtree(os.path.join(self._workdir(i), name))
        with tracer.span("resume", i + 1) as op_span:
            pipe, out = self._run(self._workdir(i), tracer, op_span)
        served = sorted(n for n, r in pipe.ckpt.results.items() if r.skipped)
        op_span.attrs["served_from_checkpoint"] = served
        stages = [s for s in tracer.spans if s.op == op_span.op and s.name.startswith("stage.")]
        metrics = {
            "ckpt.read_s": sum(s.wall for s in stages if s.name[6:] in served),
            "ckpt.skipped_frac": len(served) / len(pipe.ckpt.results),
        }
        err = check_pipeline(out, self.expected)
        if served != list(SCAN_STAGES):
            err = err or f"served from checkpoint {served}, expected {list(SCAN_STAGES)}"
        return metrics, err


class QueryPass:
    """One op = one pass over ``PASS_QUERIES``, each built with its
    ``REGISTRY`` function and written to a parquet sink. The input is
    fixed, so the seed only permutes the query order within a pass."""

    def __init__(self, spark, seed: int, run_dir: str):
        from biokg_spark.queries import REGISTRY

        self.spark, self.run_dir, self.registry = spark, run_dir, REGISTRY
        self.rng = random.Random(seed)

    def _sink(self, i: int, q: str = "") -> str:
        return os.path.join(self.run_dir, "sinks", f"op{i}", q)

    def write_inputs(self) -> None:
        """The tables ship with the benchmark; nothing to write."""

    def prepare_check(self) -> None:
        self.expected = cached_query_oracles()

    def warm_up(self):
        """A whole pass: each query's first run in a fresh JVM is slower
        than its later ones, not only the first query's."""
        return self._run(-1, PASS_QUERIES)

    def run_op(self, i: int, tracer=None, op_span=None):
        order = list(PASS_QUERIES)
        self.rng.shuffle(order)
        return self._run(i, order, tracer, op_span)

    def _run(self, i: int, order: list[str], tracer=None, op_span=None):
        spans = {}
        for q in order:
            with maybe_span(tracer, f"build.{q}", i, op_span) as b:
                df = self.registry[q][0](self.spark, DATA_DIR)
            with maybe_span(tracer, f"sink.{q}", i, op_span) as s:
                df.write.mode("overwrite").parquet(self._sink(i, q))
            spans[q] = (b, s)
        return spans

    def check(self, i: int, result) -> str | None:
        errs = []
        for q in result:
            err = check_query_sink(self._sink(i, q), self.expected[q])
            if err:
                errs.append(f"{q}: {err}")
        return "; ".join(errs) or None

    def cleanup(self, i: int) -> int:
        written = dir_bytes(self._sink(i))
        shutil.rmtree(self._sink(i))
        return written

    def layer_metrics(self, tracer, op_span, result) -> dict:
        metrics = {}
        for q, (b, s) in result.items():
            c = tracer.counts(tracer.group_jobs([b, s]))
            metrics.update({
                f"q.{q}.build_s": b.wall,
                f"q.{q}.exec_s": s.wall,
                f"q.{q}.jobs": c.jobs,
                f"q.{q}.build_jobs": len(tracer.group_jobs([b])),
                f"q.{q}.cpu_s": c.cpu_s,
                f"q.{q}.shuffle_bytes": c.shuffle_bytes,
                f"q.{q}.skew": c.skew,
            })
        return metrics


def source_key() -> str:
    """Hash of the package's sources, of this file (session config,
    datagen parameters) and of the pipeline oracle, so a cached figure or
    expected output is always this code's."""
    import biokg_spark

    pkg = os.path.dirname(biokg_spark.__file__)
    files = sorted(
        os.path.join(root, fn)
        for root, _dirs, fns in os.walk(pkg)
        for fn in fns
        if fn.endswith(".py")
    )
    h = hashlib.md5()
    oracle = os.path.join(ROOT, "tests", "oracle_kg.py")
    for path in [*files, os.path.abspath(__file__), oracle]:
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def cached_datagen(spark) -> tuple[str, float]:
    """Directory of the seed-independent ``datagen`` tables pipeline_cold
    draws from, and the seconds their generation took. The first run in a
    checkout generates and writes them; the cache is keyed by
    ``source_key``."""
    from biokg_spark import datagen

    out = os.path.join(WORK, f"datagen-{source_key()}")
    if not os.path.isdir(out):
        tmp = out + f".tmp{os.getpid()}"
        t0 = time.perf_counter()
        datagen.transcripts(
            spark, n_conversations=BASE_CONVERSATIONS, words_per_turn=WORDS_PER_TURN
        ).write.parquet(os.path.join(tmp, "transcripts"))
        for name in DIMS:
            getattr(datagen, name)(spark).write.parquet(os.path.join(tmp, name))
        with open(os.path.join(tmp, "gen_s"), "w") as f:
            f.write(repr(time.perf_counter() - t0))
        os.replace(tmp, out)
    with open(os.path.join(out, "gen_s")) as f:
        return out, float(f.read())


def cached_query_oracles() -> dict:
    """DuckDB oracle results of the pass queries, keyed by their oracle
    SQL and the input tables. The inputs are fixed, so the first run in a
    checkout computes them (a few seconds) and later runs read them back."""
    from biokg_spark.queries import REGISTRY

    names = sorted(PASS_QUERIES)
    h = hashlib.md5("\n".join(REGISTRY[q][1] for q in names).encode())
    for fn in sorted(os.listdir(DATA_DIR)):
        with open(os.path.join(DATA_DIR, fn), "rb") as f:
            h.update(f.read())
    name = f"oracle-{h.hexdigest()[:12]}.json"
    return query_oracles(DATA_DIR, names, os.path.join(WORK, name))


WORKLOADS = {
    "pipeline_cold": PipelineCold,
    "dedup_pairs": QueryPass,
}


# ---------------------------------------------------------------------------
# per-layer metrics of a traced op
# ---------------------------------------------------------------------------


def trace_stages(pipe, tracer, op_span) -> None:
    """Wrap this pipeline's ``CheckpointManager.run`` so each stage runs in
    a span with its own job group, and its build thunk in a child span
    (same group). The wrapper sits on the instance; the class is untouched."""
    run = pipe.ckpt.run

    def traced_run(name, fp, build, partition_by=None):
        with tracer.span(f"stage.{name}", op_span.op, op_span) as stage:
            def traced_build():
                with tracer.span(f"build.{name}", op_span.op, stage, group=False):
                    return build()

            return run(name, fp, traced_build, partition_by=partition_by)

    pipe.ckpt.run = traced_run


def pipeline_layers(tracer, op_span, pipe) -> dict:
    spans = [s for s in tracer.spans if s.op == op_span.op]
    stages = {s.name[6:]: s for s in spans if s.name.startswith("stage.")}
    builds = {s.name[6:]: s for s in spans if s.name.startswith("build.")}
    selfs = self_times(stages, STAGE_DEPS)
    cp_len, cp_path = critical_path(selfs, STAGE_DEPS)
    metrics = {}
    for layer in STAGES:
        members = [m for m in QUAD_FAMILIES if m in stages] if layer == "quad_families" else [layer]
        c = tracer.counts(tracer.group_jobs(stages[m] for m in members))
        metrics.update({
            f"stage.{layer}.wall_s": sum(stages[m].wall for m in members),
            f"stage.{layer}.build_s": sum(builds[m].wall for m in members if m in builds),
            f"stage.{layer}.jobs": c.jobs,
            f"stage.{layer}.cpu_s": c.cpu_s,
            f"stage.{layer}.shuffle_bytes": c.shuffle_bytes,
            f"stage.{layer}.skew": c.skew,
        })
    served = sorted(n for n, r in pipe.ckpt.results.items() if r.skipped)
    # checkpoint overhead: time in CheckpointManager.run outside the build
    # thunk (parquet write, commit, read-back, manifest)
    metrics["ckpt.write_s"] = sum(
        s.wall - builds[n].wall for n, s in stages.items() if n in builds
    )
    metrics["kg.critical_path_s"] = cp_len
    metrics["kg.stage_overlap"] = sum(s.wall for s in stages.values()) / op_span.wall
    op_span.attrs.update(
        critical_path=cp_path,
        self_s={n: round(v, 4) for n, v in selfs.items()},
        served_from_checkpoint=served,
    )
    return metrics


def spark_layers(tracer, op_span, ungrouped: list[int]) -> dict:
    spans = [s for s in tracer.spans if s.op == op_span.op]
    c = tracer.counts(sorted(set(tracer.group_jobs(spans)) | set(ungrouped)))
    return {
        "spark.jobs": c.jobs,
        "spark.tasks": c.tasks,
        "spark.cpu_s": c.cpu_s,
        "spark.gc_s": c.gc_s,
        "spark.shuffle_bytes": c.shuffle_bytes,
        "spark.spill_bytes": c.spill_bytes,
        "spark.core_util": c.run_s / (op_span.wall * nproc()),
    }


def traced_op(wl, tracer, i: int) -> tuple[dict, float, int] | None:
    """Run one op under spans and job groups; its per-layer metrics, wall
    and written bytes, or None when it raised or failed its check."""
    tracer.new_ungrouped_jobs()  # jobs of earlier ops are not this op's
    own_s = tracer.own_s
    try:
        with tracer.span("op", i) as op_span:
            result = wl.run_op(i, tracer, op_span)
        metrics = wl.layer_metrics(tracer, op_span, result)
        metrics.update(spark_layers(tracer, op_span, tracer.new_ungrouped_jobs()))
        metrics["trace_overhead_s"] = tracer.own_s - own_s
        err = wl.check(i, result)
        if not err and hasattr(wl, "traced_resume"):
            resumed, err = wl.traced_resume(tracer, i)
            metrics.update(resumed)
        written = wl.cleanup(i)
    except Exception:  # an op that raises counts as failed
        traceback.print_exc()
        return None
    if err:
        print(f"traced op {i} failed its check: {err}", file=sys.stderr)
        return None
    return metrics, op_span.wall, written


def write_trace_report(args, tracer, metrics: dict) -> str:
    """Print the trace summary and write the spans, kept in memory until
    now, with the per-layer metrics to one JSON file."""
    for op in (s for s in tracer.spans if "served_from_checkpoint" in s.attrs):
        if "critical_path" in op.attrs:
            print("critical path: " + " -> ".join(op.attrs["critical_path"]))
            print("self time (s): " + ", ".join(
                f"{n}={v:.3f}"
                for n, v in sorted(op.attrs["self_s"].items(), key=lambda kv: -kv[1])
            ))
        print(f"served from checkpoint ({op.name} {op.op}): "
              + (", ".join(op.attrs["served_from_checkpoint"]) or "none"))
    print(f"trace overhead: {metrics['trace_overhead_s']:.3f} s")
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "spans": [
            {"id": s.id, "name": s.name, "op": s.op, "parent": s.parent,
             "start": s.start, "end": s.end, **s.attrs}
            for s in sorted(tracer.spans, key=lambda s: s.start)
        ],
        "metrics": metrics,
    }
    path = os.path.join(WORK, f"trace-{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1)
    return path


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------


def start_spark(tmp: str):
    from biokg_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{nproc()}]",
        shuffle_partitions=nproc(),
        extra_conf={
            "spark.local.dir": tmp,
            # the default 48g heap leaves the collector free to grow the
            # JVM past what a shared 4-core host can spare
            "spark.driver.memory": "3g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            # every job and stage of an op stays readable after the op
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)


def metric_spec() -> dict[str, dict[str, str]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {k: {m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer")}


def run(args) -> int:
    spec = metric_spec()
    units = spec["per_layer" if args.trace else "end_to_end"]
    sys.path.insert(0, ROOT)
    import biokg_spark  # noqa: F401  (fails fast outside a repository checkout)

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # the program's temp files (scheduler pool file, py4j, Python workers)
    # stay in the checkout, and its Python workers import the package
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    spark = None
    try:
        cached_query_oracles()  # once per checkout, before anything is timed
        t0 = time.perf_counter()
        spark = start_spark(tmp)
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark) if args.trace else None
        if tracer:
            tracer.record("get_spark", t0, t0 + session_s)
        wl = WORKLOADS[args.workload](spark, args.seed, run_dir)
        t0 = time.perf_counter()
        wl.write_inputs()
        inputs_s = time.perf_counter() - t0
        wl.prepare_check()  # oracle work: outside setup_s and every timing
        t0 = time.perf_counter()
        warm = wl.warm_up()
        warm_s = time.perf_counter() - t0
        setup_s = session_s + inputs_s + warm_s

        attempted, failed, walls, written = 1, 0, [], []
        warm_err = wl.check(-1, warm)
        wl.cleanup(-1)
        if warm_err:
            failed += 1
            print(f"warm-up op failed its check: {warm_err}", file=sys.stderr)
        layers = {}
        if args.trace:
            # one traced op and nothing else: the traced run must also end
            # within the time a run may take
            attempted += 1
            traced = traced_op(wl, tracer, 0)
            if traced is None:
                failed += 1
            else:
                layers, op_wall, op_written = traced
                walls.append(op_wall)
                written.append(op_written)
        else:
            start = time.perf_counter()
            i = 0
            while i < MIN_OPS or time.perf_counter() - start < args.seconds:
                attempted += 1
                err = None
                try:
                    t0 = time.perf_counter()
                    result = wl.run_op(i)
                    walls.append(time.perf_counter() - t0)
                    err = wl.check(i, result)
                    written.append(wl.cleanup(i))
                except Exception:  # an op that raises counts as failed
                    traceback.print_exc()
                    err = "raised"
                if err:
                    failed += 1
                    print(f"op {i} failed its check: {err}", file=sys.stderr)
                i += 1
        wall = median(walls)
        print(
            f"{args.workload} seed {args.seed}: setup {setup_s:.3f} s (session "
            f"{session_s:.3f}, inputs {inputs_s:.3f}, warm-up {warm_s:.3f}), "
            f"{len(walls)} {'traced ' if args.trace else ''}ops, walls "
            + " ".join(f"{w:.3f}" for w in walls) + " s"
            + (f", {wl.rows} turns, {wl.rows / wall:.1f} turns/s"
               if hasattr(wl, "rows") and wall else "")
        )
        metrics = {"setup_s": setup_s, "wall_s": wall, "written_bytes": median(written)}
        if args.trace:
            # the end-to-end metrics of the traced op are printed too, so one
            # traced run prints every metric; the result carries per-layer
            print("end-to-end, traced op:")
            for name, unit in spec["end_to_end"].items():
                print(f"  {name:<44} {metrics[name]:>16.6g} {unit}")
            layers["session.start_s"] = session_s
            metrics = {n: layers.get(n, 0) for n in units}
            report = write_trace_report(args, tracer, metrics)
            print(f"trace report: {os.path.relpath(report, ROOT)}")
        for name, unit in units.items():
            print(f"  {name:<44} {metrics[name]:>16.6g} {unit}")
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units.items()},
        }))
        return 1 if failed else 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return run(ap.parse_args())


if __name__ == "__main__":
    sys.exit(main())
