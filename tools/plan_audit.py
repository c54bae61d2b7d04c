"""Registry-wide physical-plan audit: the scale evidence for EVERY query.

For each registered operator this builds the DataFrame at the given sf_dir
and inspects the physical plan (pre-execution where the query is lazy),
counting the structures that decide whether the plan survives a 100 TB /
1000-executor scale-up:

- shuffle exchanges (hash / range / single-partition) and reused exchanges
- broadcast exchanges and join strategies (BHJ / SMJ / SHJ / BNLJ /
  CartesianProduct)
- Python boundaries: row-at-a-time ``BatchEvalPython`` (forbidden —
  the engine-wide contract is zero) vs Arrow-batched
  ``ArrowEvalPython`` / ``MapInPandas`` / ``FlatMapGroupsInPandas``
- parquet scans, and how many of them carry pushed filters
- WholeStageCodegen spans (wider = more of the query stays JVM-compiled)

Output: ``PLANAUDIT.json`` (per-query metrics, machine-checkable) and a
``PLANAUDIT.md`` summary. ``tests/test_plan_audit.py`` asserts the global
invariants over the checked-in artifact and fails when the registry and the
artifact drift apart, so "someone added a row-UDF query" or "a rewrite
doubled q_report1's shuffles" is caught in CI, not on the cluster.

Usage: python tools/plan_audit.py [sf_dir] [query ...]

With query names, only those are re-audited: their entries replace the
ones in ``PLANAUDIT.json`` (which must have been recorded at the same
``sf_dir``), the summary is recomputed over the merged set, and every
other entry stays as it was. An unknown name exits 2 before Spark
starts.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Queries allowed to contain an intentionally unbounded-side join
# (each is either THE cartesian/product demo or joins a provably tiny
# broadcast side under a non-equi condition).
PRODUCT_JOIN_ALLOWLIST = {
    "q_cross_join",       # the cartesian demo itself (two tiny dims)
    "q_market_beta",      # 1-row market aggregate joined back
    "q_theta_overlap",    # 1-row sketch vs 1-row sketch
    "q_semijoin_selectivity",  # 1-row denominators joined back
    # Scalar-subquery pattern: a 1-row (or per-group, group-count-bounded)
    # aggregate broadcast back onto the scan. The BNLJ's build side is the
    # aggregate, never a fact table — constant memory at any scale.
    "q_benford",          # 1-row total for digit-share denominators
    "q_bloom_join",       # 1-row bloom-filter aggregate broadcast to the probe
    "q_decile_lift",      # 1-row positives/total base rates
    "q_domain_mix",       # 1-row corpus totals for share-of-mix
    "q_funnel",           # 1-row per-stage counts combined into rates
    "q_rebalance_sample", # 1-row min-source count → per-source thresholds
    "q_share_of_parent",  # parent-level totals joined to the child grid
    "q_skew_audit",       # 1-row overall distribution stats
    "q_tfidf_exact",      # 1-row corpus doc-count for the IDF term
    "q_tpch_q11",         # scalar subquery: sum(value) * fraction threshold
    "q_tpch_q20",         # scalar subquery: 0.5 * sum(l_quantity) per part
    "q_tpch_q22",         # scalar subquery: avg(c_acctbal) filter
    "q_seasonal_profile", # 1-row global mean broadcast onto the 7x24 grid
    "q_target_encode",    # 1-row global mean broadcast (LOO smoothing prior)
    "q_walk_forward",     # ≤N_FOLDS fold rows broadcast into the range join
    "q_referential_integrity",  # 1-row count × 1-row orphan count per FK edge
    "q_degree_hist",      # 1-row node-total broadcast for the share ratio
    "q_chi_square",       # 1-row (T, |r|, |c|) totals broadcast onto the
                          # |r|×|c| cell table for expected counts
    "q_bm25",             # 1-row (N, T) corpus stats broadcast onto the
                          # query-token hit table
    "q_mixture_weights",  # 1-row (T, Σ√c) totals broadcast onto the
                          # |sources|-row weight table
    "q_simpsons_audit",   # 1-row pooled-sign broadcast onto the
                          # <=7-row strata table
    "q_banding_recall",   # four 1-row count aggregates folded into the
                          # single output row
    "q_dataset_card",     # 1-row volume aggregate x 1-row token-type
                          # aggregate -> the single card row
    "q_mixture_sample",   # 1-row weight-total broadcast onto the
                          # |sources|-row quota table
    "q_fixed_effects",    # 1-row grand-mean scalar broadcast onto the
                          # stream (the q_seasonal_profile shape)
    "q_variance_ratio",   # |types|-row variance table self-paired under
                          # a non-equi (a < b) condition
    "q_tcloseness",       # 1-row corpus-total scalar broadcast onto the
                          # (cell, user) counts
    "q_freshness",        # 1-row global high-watermark broadcast onto
                          # the scan and the |types|-row rollup
    "q_tier_migration",   # 1-row max-week scalar broadcast onto the
                          # (user, week) tier table
    "q_ab_cuped",         # 1-row date-span + 1-row global-moments
                          # scalars broadcast onto the stream / 2-row
                          # arm table
    "q_mann_whitney",     # |types|²-row pair table self-paired under a
                          # non-equi (a < b) condition (the
                          # q_variance_ratio shape)
    "q_volume_concentration",  # 1-row percentile-threshold scalar
                          # broadcast onto the per-user totals
    "q_label_balance",    # 1-row (N, K) corpus totals broadcast onto
                          # the K-row class table
    "q_pairs_signal",     # 1-row OLS-beta + 1-row spread-moments
                          # scalars broadcast onto the calendar-sized
                          # day-pair table
    "q_kruskal_wallis",   # 1-row tie-correction aggregate broadcast
                          # onto the |types|-row rank-sum table
    "q_cramers_v",        # 1-row (T, |r|, |c|) totals broadcast onto
                          # the |r|×|c| cell table (the q_chi_square
                          # shape)
    "q_mutual_info",      # 1-row (mn, mx, n) range scalar broadcast
                          # onto the scan, then three 1-row aggregates
                          # (mi, hx, hy) folded into the output row
    "q_brier",            # 1-row corpus doc-count broadcast onto the
                          # token table + 1-row overall Brier onto the
                          # ≤5-row reliability bins
    "q_cohens_kappa",     # 1-row total broadcast onto the ≤9-row
                          # confusion cells; po × pe 1-row × 1-row fold
    "q_ece",              # 1-row corpus doc-count broadcast onto the
                          # token table (the q_brier scored pipeline)
    "q_dsir_weights",     # 1-row (nr, nt, v) totals broadcast onto
                          # the vocab-sized gram table
    "q_markov_entropy",   # 1-row transition total broadcast onto the
                          # |types|²-cell table; h0 × h1 1-row folds
    "q_lorenz_deciles",   # 1-row spend-total broadcast onto the
                          # ≤D-row decile table for the share chains
    # (q_mann_kendall's day<day self-join equi-joins on event_type with
    # the range predicate as a join filter — no product node, so it
    # needs no allowlist entry)
}


# Columns whose cardinality is bounded and SMALL in the oracle tables
# (estimable at audit time: events.event_type ~5, documents.source ~5,
# events.user_id is NOT here — ~sf·1e4). A Window partitioned ONLY by
# these over an un-aggregated fact scan sorts an entire key's rows in
# one task — the straggler class that let the round-7 tick quartet
# through (VERDICT r7 "What's wrong #1"); this check exists so the
# audit sees the next one.
LOW_CARD_COLS = {"event_type", "source", "split", "lang", "label"}

# Output columns that identify a raw fact-table parquet scan (the
# tables that grow with the corpus; dims like region/nation/date spines
# are fine to window wholesale).
FACT_SCAN_MARKERS = (
    "event_id#", "l_orderkey#", "o_orderkey#", "doc_id#", "vec_id#",
    "ps_partkey#",
)

_AGG_RE = re.compile(r"HashAggregate|SortAggregate|ObjectHashAggregate")
_WINDOW_RE = re.compile(r"\bWindow(?:InPandas)?\b")

# Queries allowed to carry a low-cardinality-partition window over a
# raw fact scan (each with a written justification). Empty by design —
# the fix is always the q_dollar_bars two-pass decomposition.
LOWCARD_WINDOW_ALLOWLIST: dict[str, str] = {}


def _tree_depth(line: str) -> int:
    """Depth of a node line in TreeNode.toString() output: the prefix is
    3-char cells drawn from '   ', ':  ', '+- ', ':- '."""
    m = re.match(r"^((?:   |:  |\+- |:- )*)", line)
    return len(m.group(1)) // 3


def lowcard_windows(plan: str) -> list[dict]:
    """Window nodes whose partition keys are all low-cardinality columns
    (or empty = SinglePartition) AND whose input subtree is an
    un-aggregated fact scan — one sort task per key value at scale.

    Works on the indented physical-plan string: a window's input is the
    block of deeper-indented lines that follows it; an aggregate in that
    block bounds the input (value histograms, daily bars, bucket
    rollups pass), a fact scan without one does not."""
    lines = plan.splitlines()
    hits = []
    for i, line in enumerate(lines):
        body = line.strip()
        if not _WINDOW_RE.match(re.sub(r"^((?:   |:  |\+- |:- )*)", "", line)):
            continue
        # "Window [exprs], [partSpec], [orderSpec]" — an empty spec is
        # omitted, so two-group lines are either partition-only
        # (unordered full-frame agg) or order-only (global window);
        # order specs always carry ASC/DESC, partition specs never do.
        groups = re.sub(r"^\*?\(?\d*\)?\s*", "", body)
        g = groups.rsplit("], [", 2)
        if len(g) == 3:
            parts_txt = g[1]
        elif len(g) == 2:
            parts_txt = "" if re.search(r" (?:ASC|DESC)\b", g[1]) else g[1]
        else:
            parts_txt = ""
        part_cols = set(re.findall(r"([A-Za-z_][A-Za-z0-9_]*)#\d+", parts_txt))
        if part_cols and not part_cols <= LOW_CARD_COLS:
            continue  # at least one high-cardinality key → parallel
        depth = _tree_depth(line)
        subtree = []
        for nxt in lines[i + 1:]:
            if nxt.strip() and _tree_depth(nxt) <= depth:
                break
            subtree.append(nxt)
        sub = "\n".join(subtree)
        if _AGG_RE.search(sub):
            continue  # aggregated input — bounded, not the raw fact
        if re.search(r"TakeOrderedAndProject|WindowGroupLimit|GlobalLimit|CollectLimit", sub):
            continue  # top-k / rank-limit pruned input — bounded
        if not any(mk in sub for mk in FACT_SCAN_MARKERS):
            continue  # windows a dim/spine-sized input
        hits.append(
            {"partition_by": sorted(part_cols), "line": body[:160]}
        )
    return hits


def audit_plan(plan: str, formatted: str) -> dict:
    """Extract scale-relevant counters from a physical plan string."""
    def count(pat: str, s: str) -> int:
        return len(re.findall(pat, s))

    n_exchange = count(r"Exchange (?:hashpartitioning|rangepartitioning|SinglePartition|RoundRobinPartitioning)", plan)
    n_reused = count(r"ReusedExchange", plan)
    n_broadcast = count(r"BroadcastExchange", plan)
    scans = count(r"Scan parquet", plan)
    pushed = count(r"PushedFilters: \[(?!\])", plan)
    return {
        "shuffles": n_exchange,
        "reused_exchanges": n_reused,
        "broadcasts": n_broadcast,
        "bhj": count(r"BroadcastHashJoin", plan),
        "smj": count(r"SortMergeJoin", plan),
        "shj": count(r"ShuffledHashJoin", plan),
        "bnlj": count(r"BroadcastNestedLoopJoin", plan),
        "cartesian": count(r"CartesianProduct", plan),
        "row_python_udf": count(r"BatchEvalPython", plan),
        "arrow_python": (
            count(r"ArrowEvalPython", plan)
            + count(r"MapInPandas", plan)
            + count(r"FlatMapGroupsInPandas", plan)
            + count(r"MapInArrow", plan)
        ),
        "parquet_scans": scans,
        "scans_with_pushdown": pushed,
        "codegen_spans": count(r"WholeStageCodegen \(\d+\)", formatted),
        # global (all-partition) sorts; TakeOrderedAndProject is NOT one —
        # it is the per-partition-heap top-k that replaces a global sort
        "global_sort": count(r"Sort \[[^\]]*\], true", plan),
        "top_k": count(r"TakeOrderedAndProject", plan),
        # windows over an un-aggregated fact scan partitioned only by
        # low-cardinality keys — one sort task per key value at 100×
        "lowcard_windows": lowcard_windows(plan),
    }


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from trading_data_pipeline_spark.registry import all_queries

    specs = all_queries()
    unknown = sorted(only - set(specs))
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2
    prior = None
    if only:
        # Re-recording named queries merges them into the committed
        # artifact, so it must describe the same tables.
        with open(os.path.join(REPO, "PLANAUDIT.json")) as f:
            prior = json.load(f)
        if prior["summary"]["sf_dir"] != sf_dir:
            print(
                f"PLANAUDIT.json was recorded at {prior['summary']['sf_dir']}, "
                f"not {sf_dir}",
                file=sys.stderr,
            )
            return 2

    from trading_data_pipeline_spark.session import build_session

    spark = build_session("plan-audit")
    results: dict[str, dict] = {}
    t_all = time.time()
    for name, spec in specs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = spec.fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            import contextlib
            import io

            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            m = audit_plan(plan, buf.getvalue())
            m["build_s"] = round(time.time() - t0, 2)
            m["err"] = None
        except Exception as exc:  # noqa: BLE001 — audit must not die mid-sweep
            m = {"err": f"{type(exc).__name__}: {exc}"[:300], "build_s": round(time.time() - t0, 2)}
        results[name] = m
        flag = "" if m.get("err") is None else "  !! " + m["err"]
        print(f"{name:28s} shuffles={m.get('shuffles','-')} bcast={m.get('broadcasts','-')} "
              f"rowUDF={m.get('row_python_udf','-')} {flag}", flush=True)

    wall_s = round(time.time() - t_all, 1)
    if prior is not None:
        # Every other entry stays as recorded; wall_s stays the last
        # full sweep's.
        results = {**prior["queries"], **results}
        wall_s = prior["summary"]["wall_s"]
    ok = {k: v for k, v in results.items() if v.get("err") is None}
    summary = {
        "sf_dir": sf_dir,
        "queries": len(results),
        "errors": sorted(k for k, v in results.items() if v.get("err")),
        "total_shuffles": sum(v["shuffles"] for v in ok.values()),
        "row_python_udf_total": sum(v["row_python_udf"] for v in ok.values()),
        "cartesian_offenders": sorted(
            k for k, v in ok.items()
            if (v["cartesian"] or v["bnlj"]) and k not in PRODUCT_JOIN_ALLOWLIST
        ),
        "lowcard_window_offenders": sorted(
            k for k, v in ok.items()
            if v["lowcard_windows"] and k not in LOWCARD_WINDOW_ALLOWLIST
        ),
        "max_shuffles": max(((v["shuffles"], k) for k, v in ok.items()), default=(0, ""))[::-1],
        "wall_s": wall_s,
    }
    out = {"summary": summary, "queries": results}
    clean = (
        not summary["errors"]
        and summary["row_python_udf_total"] == 0
        and not summary["cartesian_offenders"]
        and not summary["lowcard_window_offenders"]
    )
    # Never clobber the last CLEAN committed artifact with a failing
    # sweep: violations land in PLANAUDIT.REJECTED.json for triage and
    # the run exits non-zero.
    name = "PLANAUDIT.json" if clean else "PLANAUDIT.REJECTED.json"
    with open(os.path.join(REPO, name), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    if clean:
        write_markdown(out)
        # a stale rejection artifact must not outlive the fix
        rejected = os.path.join(REPO, "PLANAUDIT.REJECTED.json")
        if os.path.exists(rejected):
            os.remove(rejected)
    print(json.dumps(summary))
    return 0 if clean else 1


def write_markdown(out: dict) -> None:
    s = out["summary"]
    qs = {k: v for k, v in out["queries"].items() if v.get("err") is None}
    by_shuffles = sorted(qs.items(), key=lambda kv: -kv[1]["shuffles"])[:15]
    lines = [
        "# PLANAUDIT — registry-wide physical-plan audit",
        "",
        f"Generated by `tools/plan_audit.py` at `{s['sf_dir']}`; "
        f"{s['queries']} queries audited in {s['wall_s']}s.",
        "",
        "Global invariants (asserted in `tests/test_plan_audit.py`):",
        "",
        f"- **Row-at-a-time Python UDFs (`BatchEvalPython`): {s['row_python_udf_total']}** "
        "across the entire registry — every Python boundary is Arrow-batched.",
        f"- **Unapproved cartesian/nested-loop joins: {len(s['cartesian_offenders'])}** "
        "(every BNLJ/CartesianProduct appears in the per-query allowlist with a "
        "bounded-side justification — see `PRODUCT_JOIN_ALLOWLIST`).",
        f"- **Low-cardinality-partition windows over raw fact scans: "
        f"{len(s['lowcard_window_offenders'])}** — no Window sorts an "
        "un-aggregated fact under a bounded key set (event_type/source/…): "
        "one sort task per key value at scale. The round-7 tick quartet "
        "was this class; the fix is the q_dollar_bars two-pass "
        "decomposition (within-(key, day) window + calendar-sized offset "
        "join-back).",
        f"- Total shuffle exchanges across all {s['queries']} plans: "
        f"**{s['total_shuffles']}** (mean "
        f"{s['total_shuffles'] / max(len(qs), 1):.1f}/query).",
        "",
        "## Highest shuffle budgets",
        "",
        "| query | shuffles | broadcasts | SMJ | BHJ | arrow-python | parquet scans (pushdown) |",
        "|---|---|---|---|---|---|---|",
    ]
    for k, v in by_shuffles:
        lines.append(
            f"| {k} | {v['shuffles']} | {v['broadcasts']} | {v['smj']} | {v['bhj']} "
            f"| {v['arrow_python']} | {v['parquet_scans']} ({v['scans_with_pushdown']}) |"
        )
    lines += [
        "",
        "Shuffle counts are static-plan upper bounds: AQE coalesces partitions "
        "and converts SMJ→BHJ at runtime where the built side measures small, "
        "so the executed exchange count at scale is ≤ the audited one.",
        "",
        "The per-query records live in `PLANAUDIT.json`; "
        "`tests/test_plan_audit.py` re-derives a sample live and fails when "
        "the registry and this artifact drift (new query without re-audit, "
        "or a rewrite that changes a recorded shuffle budget).",
    ]
    with open(os.path.join(REPO, "PLANAUDIT.md"), "w") as f:
        f.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    raise SystemExit(main())
