#!/usr/bin/env python
"""Physical-plan audit over the whole query registry → PLANS.md.

For every query in ``biokg_spark.queries.REGISTRY`` this captures the
Catalyst physical plan tree at sf0.01 and checks the plan properties that
matter at 100 TB:

- no ``CartesianProduct`` / ``BroadcastNestedLoopJoin`` (accidental cross
  joins);
- dimension joins execute as ``BroadcastHashJoin``;
- parquet scans carry ``PushedFilters`` when the query filters a scanned
  column, and read only the projected columns (column pruning);
- no row-at-a-time ``BatchEvalPython`` (Python UDF) — only
  ``ArrowEvalPython``/``MapInPandas`` (vectorized) are allowed;
- aggregations are partial+final ``HashAggregate`` pairs (map-side
  combine);
- no ``SortAggregate`` (outside the explicit EXPECTED allowlist): a
  min/max over a STRING or STRUCT buffer is not HashAggregate-able and
  Catalyst silently falls back to sort-based aggregation — the input
  sorted before BOTH the partial and the final phase (measured:
  transcript_near_dup 258.7 s vs <30 s at sf0.1 for the same algorithm
  with a LONG-buffered hash family). The round-4 audit missed exactly
  this, so it is now a first-class check.
- no ``Exchange SinglePartition`` over UNAGGREGATED input: a global
  ``Window.orderBy(...)`` / global ``Sort`` drags every row into ONE
  task — correct at test scale, a guaranteed straggler at 100 TB
  (measured: the naive global running sum vs the two-phase bucketed
  prefix sum of ``operators/mixture.py::budget_select`` — 4.23 s vs
  1.63 s at 5M rows, and the gap is unbounded in row count). A
  single-partition exchange is FINE when its child subtree contains an
  Aggregate/Limit/LocalTableScan (a tiny pre-reduced frame: corpus-
  scalar finals, the mixture factor window, per-bucket offsets); the
  check flags only raw-stream cases.

Run: ``python scripts/audit_plans.py`` (writes PLANS.md at the repo root).
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench_extra import plan_string  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


# Queries where a normally-suspicious operator is the deliberate design.
EXPECTED = {
    # brute-force ANN: the tiny query set is broadcast and streamed against
    # every candidate partition — a non-equi theta join is the point.
    "embed_cosine_topk": {"BroadcastNestedLoopJoin present"},
    # embed_ann_ivf and embed_ann_hnsw run embed_cosine_topk's body:
    # cosine_topk's c_id != q_id theta join against the broadcast query
    # set plans the same deliberate BroadcastNestedLoopJoin.
    "embed_ann_ivf": {"BroadcastNestedLoopJoin present"},
    "embed_ann_hnsw": {"BroadcastNestedLoopJoin present"},
    # HITS L2 norms: a ONE-row aggregate broadcast back onto the scores
    # per iteration (operators/pagerank.py::hits) — the in-plan
    # alternative to a per-iteration driver collect.
    "kg_hits": {"BroadcastNestedLoopJoin present"},
    # TF-IDF's corpus size N: a ONE-row count aggregate broadcast-crossed
    # onto the TF×DF join — in-plan scalar, not a driver collect.
    "kg_entity_tfidf": {"BroadcastNestedLoopJoin present"},
    # BM25's corpus scalars (N, avgdl): the same 1-row crossJoin pattern.
    "corpus_bm25_search": {"BroadcastNestedLoopJoin present"},
    # hard-negative mining runs bm25_search, inheriting its 1-row
    # corpus-scalar crossJoin.
    "corpus_hard_negatives": {"BroadcastNestedLoopJoin present"},
    # skew profiler: per key column, the 1-row (total, n_keys) scalar
    # aggregate broadcast-crossed onto the top_k heavy-hitter rows.
    "kg_skew_profile": {"BroadcastNestedLoopJoin present"},
    # unigram LM's corpus token total: same 1-row crossJoin pattern.
    "text_unigram_logprob": {"BroadcastNestedLoopJoin present"},
    # hybrid RRF runs bm25_search as one of its input rankers,
    # inheriting its 1-row corpus-scalar crossJoin.
    "corpus_hybrid_rrf": {"BroadcastNestedLoopJoin present"},
    # decay scores: the corpus max timestamp is a ONE-row aggregate
    # broadcast-crossed onto the events — in-plan scalar, no collect.
    "events_decay_score": {"BroadcastNestedLoopJoin present"},
    # ANN recall harness: its EXACT side is deliberately the
    # brute-force cosine theta join (embed_cosine_topk's allowlisted
    # shape) — that is what "exact top-k ground truth" means.
    "embed_ann_recall": {"BroadcastNestedLoopJoin present"},
    # modularity's edge count m: a ONE-row aggregate broadcast-crossed
    # onto the per-community frame (the HITS in-plan-scalar pattern).
    "kg_modularity": {"BroadcastNestedLoopJoin present"},
    # TransE eval candidate generation: every test triple scores EVERY
    # entity as a tail — the |test|×|E| cross is the definition of
    # rank-based KG evaluation (entity side broadcast; budget via test
    # sampling, not a smaller cross).
    "kg_transe_eval": {"BroadcastNestedLoopJoin present"},
    # histogram [min, max] bounds: a ONE-row aggregate broadcast-crossed
    # onto the rows (the HITS in-plan-scalar pattern).
    "events_value_histogram": {"BroadcastNestedLoopJoin present"},
}


def _unaggregated_single_partition(plan: str) -> list[str]:
    """Node ids of SinglePartition exchanges fed by raw (unreduced) input.

    Detail blocks identify which Exchange nodes are SinglePartition; the
    tree section gives each exchange's child subtree by indentation. A
    subtree containing an Aggregate/Limit/LocalTableScan is a tiny
    pre-reduced frame (corpus-scalar finals, factor-table windows) and
    passes; anything else means every raw row lands in one task.
    """
    sp_ids = set()
    for blk in re.split(r"\n\n", plan):
        m = re.match(r"\((\d+)\) Exchange\b", blk)
        if m and "Arguments: SinglePartition" in blk:
            sp_ids.add(m.group(1))
    if not sp_ids:
        return []
    tree = plan.split("\n\n")[0].split("\n")
    bad = []
    for i, ln in enumerate(tree):
        m = re.search(r"\bExchange \((\d+)\)\s*$", ln)
        if not m or m.group(1) not in sp_ids:
            continue
        depth = len(ln) - len(ln.lstrip(" :+-"))
        sub = []
        for ln2 in tree[i + 1 :]:
            d2 = len(ln2) - len(ln2.lstrip(" :+-"))
            if ln2.strip() and d2 <= depth:
                break
            sub.append(ln2)
        if not re.search(r"Aggregate|Limit|LocalTableScan", "\n".join(sub)):
            bad.append(m.group(1))
    return bad


def audit(name: str, plan: str):
    problems = []
    if "CartesianProduct" in plan:
        problems.append("CartesianProduct present")
    if "BroadcastNestedLoopJoin" in plan:
        problems.append("BroadcastNestedLoopJoin present")
    if "BatchEvalPython" in plan:
        problems.append("row-at-a-time Python UDF (BatchEvalPython)")
    if "SortAggregate" in plan:
        problems.append("SortAggregate present (string/struct agg buffer)")
    sp_bad = _unaggregated_single_partition(plan)
    if sp_bad:
        problems.append(
            "single-partition exchange over unaggregated input "
            f"(global window/sort straggler; nodes {','.join(sp_bad)})"
        )
    n_scans = plan.count("Scan parquet")
    n_pushed = len(re.findall(r"PushedFilters: \[[^\]]", plan))
    # distinct-style aggregates carry no aggregate functions, hence no
    # "partial_" marker, but Spark still pre-deduplicates map-side
    has_fn_agg = re.search(r"Functions \[[1-9]", plan)
    if has_fn_agg and "partial_" not in plan:
        problems.append("aggregate without map-side partial phase")
    expected = EXPECTED.get(name, set())
    problems = [
        p + " (expected by design)" if p in expected else p for p in problems
    ]
    hard = [p for p in problems if not p.endswith("(expected by design)")]
    return problems, hard, n_scans, n_pushed


def main() -> None:
    from biokg_spark.queries import REGISTRY
    from biokg_spark.session import get_spark

    spark = get_spark(app_name="plan-audit", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")

    lines = [
        "# PLANS — physical-plan audit of every registry query",
        "",
        f"Auto-generated by `scripts/audit_plans.py` at sf dir `{SF_DIR}`.",
        "Checks: no cross joins, no row-at-a-time Python UDFs, broadcast",
        "dim joins, pushed filters + pruned scan schemas, partial+final",
        "aggregates, no SortAggregate fallbacks, no single-partition",
        "exchange over unaggregated input (global window/sort straggler).",
        "`MapInPandas`/`ArrowEvalPython` (vectorized) are the only Python",
        "operators allowed in any plan.",
        "",
    ]
    bad_total = 0
    for name, (fn, _sql) in sorted(REGISTRY.items()):
        df = fn(spark, SF_DIR)
        plan = plan_string(df, "formatted")
        tree = plan.split("\n\n")[0]
        problems, hard, n_scans, n_pushed = audit(name, plan)
        bad_total += len(hard)
        flags = []
        if "BroadcastHashJoin" in plan:
            flags.append("broadcast-join")
        if "MapInPandas" in plan or "ArrowEvalPython" in plan:
            flags.append("arrow-python")
        if "HashAggregate" in plan and "partial_" in plan:
            flags.append("partial-agg")
        if n_pushed:
            flags.append(f"pushed-filters×{n_pushed}")
        status = "OK" if not problems else "PROBLEMS: " + "; ".join(problems)
        lines += [
            f"## {name}",
            "",
            f"- scans: {n_scans}  flags: {', '.join(flags) or '—'}",
            f"- audit: **{status}**",
            "",
            "```",
            tree.strip(),
            "```",
            "",
        ]
    lines.insert(3, f"**Total problems: {bad_total}**")
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(lines))
    print(f"PLANS.md written; {bad_total} problems")
    spark.stop()


if __name__ == "__main__":
    main()
