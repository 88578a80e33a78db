#!/usr/bin/env python3
"""Diff two Bench per-query JSON maps (BENCH_SELF.json, a fresh
Bench output, or a driver BENCH_r*.json tail) and print
regressions/improvements sorted by ratio.

Usage: python3 tools/benchdiff.py <old.json> <new.json> [min_ratio]
           [--confirm <other_new.json>]

Accepts either the full one-line Bench JSON ({"queries": {...}}) or a
driver capture whose "tail" field embeds a truncated queries map — in
the latter case only the queries present in the capture are compared.

PROTOCOL: the record is the committed ordering prior BENCH_SELF.json
set against a fresh clean exclusive-CPU capture (a default `graft.Bench`
run writes it to target/BENCH_SELF.json and never rewrites the prior).
Driver-host captures carry contention scatter that has produced a
phantom >1.5x "regression" before (word_ktruss, then
dedup_keep_best_quality), so a driver-capture ratio alone is NOT
adjudicable. Compare clean vs clean by default; when a driver capture
looks regressed, pass it as --confirm alongside the clean sweep: a
query is flagged only if BOTH captures exceed min_ratio. One capture
over = "suspect (not confirmed)" — re-measure with
`graft.SoakProbe <query>` (warm min of runs 2-3) before believing it.
"""
import json
import re
import statistics
import sys

# Pinned host-drift CONTROL SET (round 14): queries untouched since at
# least r12, plan-digest-stable, >= ~1.3s at sf0.1 (so their ratios are
# not noise-dominated), spread across families, and in NO session-staged
# family (staging rewires would contaminate the drift estimate). The
# median new/old ratio over these estimates pure host drift; per-query
# ratios are reported normalized by it. Rebuild this list only when a
# member is touched — then REMOVE it rather than re-tuning.
CONTROL_SET = [
    # r16 removed (touched this round, per the rebuild rule above):
    # emb_top2_directions, join_card_estimate, kmeans_silhouette
    "bigram_generate", "bigram_lm", "doc_char_collision",
    "doc_editdist_next", "doc_ngram_novelty", "doc_perplexity_buckets",
    "doc_repetition_gopher",
    "events_coactivity_pairs",
    "part_closeness", "part_link_pred", "phrase_search",
    "q21_waiting_suppliers", "q8_market_share", "skipgram_counts",
    "word_ktruss_edges", "word_modularity", "word_ppr",
]


def load_queries(path: str) -> dict:
    raw = open(path).read()
    try:
        d = json.loads(raw)
        if isinstance(d, dict) and isinstance(d.get("queries"), dict):
            return d["queries"]
        if isinstance(d, dict) and isinstance(d.get("tail"), str):
            raw = d["tail"]
    except json.JSONDecodeError:
        pass
    # salvage "name":seconds pairs from a truncated capture
    return {m.group(1): float(m.group(2)) for m in
            re.finditer(r'"([a-z0-9_]+)":([0-9]+\.[0-9]+)', raw)}


def load_qmetrics(path: str) -> dict:
    """Per-query deterministic counters ({name: {jobs, tasks,
    shuffle_bytes, shuffle_recs, sched_ms}}) when the capture has them
    (round 15+); {} otherwise."""
    try:
        d = json.loads(open(path).read())
        qm = d.get("qmetrics")
        return qm if isinstance(qm, dict) else {}
    except (json.JSONDecodeError, OSError):
        return {}


def classify(old_m: dict, new_m: dict) -> str:
    """Mechanical host-vs-code verdict for one regressed query from its
    deterministic counters: jobs/tasks/shuffle records identical (or
    within rounding) while seconds rose means the plan and its work did
    not change — the regression is the host (or per-unit fixed
    overhead), not the code. Counters up means the code now does more.
    """
    if not old_m or not new_m:
        return ""
    keys = ("jobs", "tasks", "shuffle_recs")
    ups = []
    for k in keys:
        o, n = old_m.get(k), new_m.get(k)
        if o is None or n is None:
            return ""
        if n > max(o * 1.1, o + 2):
            ups.append(f"{k} {o}->{n}")
    if ups:
        return "; counters UP (code-linked): " + ", ".join(ups)
    return "; counters flat (host-class)"


def main(old_path: str, new_path: str, min_ratio: float = 1.3,
         confirm_path: str = None) -> int:
    old, new = load_queries(old_path), load_queries(new_path)
    old_qm, new_qm = load_qmetrics(old_path), load_qmetrics(new_path)
    confirm = load_queries(confirm_path) if confirm_path else None
    shared = sorted(set(old) & set(new))
    if not shared:
        print("no shared queries between the two captures")
        return 1
    rows = [(new[q] / old[q] if old[q] > 0 else float("inf"),
             old[q], new[q], q) for q in shared]
    tot_old = sum(old[q] for q in shared)
    tot_new = sum(new[q] for q in shared)
    # host drift: median ratio over the pinned control set (1.0 = no
    # drift; fewer than 5 control members shared -> no estimate).
    # new[q] > 0 too: a failed query is recorded as -1.0 and would
    # inject a negative ratio into the median (ADVICE r14)
    control = [new[q] / old[q] for q in CONTROL_SET
               if q in old and q in new and old[q] > 0 and new[q] > 0]
    drift = statistics.median(control) if len(control) >= 5 else None
    print(f"shared queries: {len(shared)}  "
          f"old total {tot_old:.1f}s  new total {tot_new:.1f}s  "
          f"ratio {tot_new / tot_old:.2f}x")
    if drift is not None:
        print(f"host drift (median over {len(control)} control queries): "
              f"{drift:.2f}x — per-query 'norm' below divides it out")
    else:
        print("host drift: not estimable (control set not in both captures)")

    def norm(ratio: float) -> str:
        return f"; norm {ratio / drift:.2f}x" if drift else ""
    worst = sorted((r for r in rows if r[0] >= min_ratio), reverse=True)
    best = sorted(r for r in rows if r[0] <= 1 / min_ratio)
    if worst and confirm is not None:
        # two-capture protocol: regressed only if BOTH captures agree
        confirmed, suspect = [], []
        for ratio, o, n, q in worst:
            c_ratio = confirm[q] / old[q] if old.get(q) and q in confirm \
                else None
            (confirmed if c_ratio is not None and c_ratio >= min_ratio
             else suspect).append((ratio, o, n, q, c_ratio))
        if confirmed:
            print(f"\nCONFIRMED regressions >= {min_ratio}x in BOTH captures:")
            for ratio, o, n, q, c in confirmed:
                print(f"  {q}: {o:.2f}s -> {n:.2f}s ({ratio:.2f}x; "
                      f"confirm {c:.2f}x{norm(ratio)})"
                      f"{classify(old_qm.get(q), new_qm.get(q))}")
        if suspect:
            print(f"\nsuspect (NOT confirmed by the second capture — "
                  f"treat as host noise, adjudicate with SoakProbe):")
            for ratio, o, n, q, c in suspect:
                cs = f"{c:.2f}x" if c is not None else "absent"
                print(f"  {q}: {o:.2f}s -> {n:.2f}s ({ratio:.2f}x; "
                      f"confirm {cs}{norm(ratio)})"
                      f"{classify(old_qm.get(q), new_qm.get(q))}")
    elif worst:
        print(f"\nregressions >= {min_ratio}x:")
        for ratio, o, n, q in worst:
            print(f"  {q}: {o:.2f}s -> {n:.2f}s ({ratio:.2f}x{norm(ratio)})"
                  f"{classify(old_qm.get(q), new_qm.get(q))}")
    if best:
        print(f"\nimprovements <= {1/min_ratio:.2f}x:")
        for ratio, o, n, q in best:
            print(f"  {q}: {o:.2f}s -> {n:.2f}s ({ratio:.2f}x{norm(ratio)})")
    only_new = sorted(set(new) - set(old))
    if only_new:
        print(f"\nnew-only queries ({len(only_new)}): {', '.join(only_new)}")
    return 0


if __name__ == "__main__":
    argv = sys.argv[1:]
    confirm = None
    if "--confirm" in argv:
        i = argv.index("--confirm")
        confirm = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    try:
        sys.exit(main(argv[0], argv[1],
                      float(argv[2]) if len(argv) > 2 else 1.3, confirm))
    except BrokenPipeError:  # output piped into head — not an error
        sys.exit(0)
