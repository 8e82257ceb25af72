"""Regenerate BASELINE.md's standing per-query table from the latest
bench run — one tool, one table, no narrative drift.

Reads BENCH_DETAIL.json (written by ``python bench.py``) and any probe
JSONs under ``tools/probes/`` (written by ``tools/scale_probe.py``;
name them ``probe_x<K>.json``), and rewrites the marked blocks of
BASELINE.md in place:

    <!-- BEGIN GENERATED BENCH TABLE -->
    ...
    <!-- END GENERATED BENCH TABLE -->

    <!-- BEGIN GENERATED SCALE TABLE -->
    ...
    <!-- END GENERATED SCALE TABLE -->

Usage: python tools/baseline_update.py [path/to/BENCH_DETAIL.json]
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

BENCH_BEGIN = "<!-- BEGIN GENERATED BENCH TABLE -->"
BENCH_END = "<!-- END GENERATED BENCH TABLE -->"
SCALE_BEGIN = "<!-- BEGIN GENERATED SCALE TABLE -->"
SCALE_END = "<!-- END GENERATED SCALE TABLE -->"


def _head() -> str:
    """Short HEAD sha at regen time — tests/test_bench_freshness.py
    checks this stamp against the latest functional commit."""
    import subprocess

    try:
        return subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or "unknown"
    except Exception:
        return "unknown"


# Every standing row whose noop/count ratio exceeds this carries a
# one-line mechanism note (r10, judge): the ratios are count-pruning
# artifacts — Catalyst elides work count() doesn't reference — and the
# table must say WHICH mechanism per row, or regeneration fails.
RATIO_NOTE_THRESHOLD = 2.5

# query -> mechanism note. Vocabulary: join-elim (count() drops a
# row-preserving left join and its whole input branch), window-prune
# (a row-preserving window column is unreferenced under count, the
# Window node is removed), projection-prune / agg-prune (unreferenced
# projection / aggregate expressions are pruned, count keeps keys
# only). Absolute scale is noted where both columns are sub-second.
RATIO_NOTES: dict[str, str] = {
    "gram_novelty": (
        "join-elim: count() drops the row-preserving spine left join "
        "and with it the ENTIRE gram pipeline; noop pays the real work"
    ),
    "incremental_gram_novelty": (
        "join-elim: spine left join dropped under count(); noop pays "
        "the batch-vs-standing-index gram work"
    ),
    "incremental_line_dedup": (
        "join-elim: spine left join + line-hash collision scoring "
        "pruned under count()"
    ),
    "incremental_dedup": (
        "join-elim: the decision-column left joins prune under "
        "count(); noop pays the batch-vs-index minhash work"
    ),
    "semantic_dedup": (
        "join-elim: the dominated-set left join prunes under count() "
        "- the count column times little beyond cell assignment"
    ),
    "incremental_semantic_dedup": (
        "join-elim: dominated-set left join pruned under count(), "
        "same as semantic_dedup"
    ),
    "ewma_smooth": (
        "window-prune: the row-preserving EWMA fold column is "
        "unreferenced under count(); sub-0.6 s absolute"
    ),
    # r12 optimization round: rows whose noop-vs-count gap WIDENED
    # because the noop-side work got cheaper structure (map-only /
    # per-doc array kernels) while count() prunes it entirely
    "winnow_fingerprint": (
        "projection-prune: the per-doc winnowing fingerprint is now a "
        "row-preserving array-ops projection (r12 fold) that count() "
        "never evaluates; noop pays the k-gram+window work"
    ),
    "profile_table": (
        "aggregate-prune: the r12 per-column aggregate legs degrade "
        "to metadata-only parquet counts under count() (a global "
        "aggregate's row count needs no agg expressions); noop pays "
        "all 16 column profiles"
    ),
    "decontaminate_fraction": (
        "join-elim: the row-preserving contaminated-fraction left "
        "join onto the doc spine prunes under count(); noop pays the "
        "shingle-overlap scoring"
    ),
    "embedding_pca_fixed": (
        "projection-prune: the fixed-basis projection matmul is a "
        "map-only column count() never evaluates; sub-0.5 s absolute"
    ),
    # r12: first standing rows for the newly-headlined queries
    "lang_id": (
        "projection-prune: the per-language stopword-hit filter "
        "columns and the argmax CASE are unreferenced under count(); "
        "noop pays the tokenize+match battery; sub-1 s absolute"
    ),
    "minhash_signatures": (
        "projection-prune: the shingle md5 digest arrays and the "
        "windowed minhash columns are unreferenced under count(), "
        "which runs only the tokenize + size filter; noop pays the md5 "
        "work"
    ),
    "doc_fingerprint": (
        "projection-prune: the tokenize + md5 fingerprint is a "
        "map-only column count() never evaluates; sub-second absolute"
    ),
    "simhash_fingerprint": (
        "aggregate-prune: the per-term portable md5 hash and the 21 "
        "packed per-bit sums are unreferenced under count(), which "
        "keeps only the explode + groupBy; noop pays the hashing"
    ),
    "grouping_sets_agg": (
        "aggregate-prune: the decimal price sum and grouping() flags "
        "are unreferenced under count(), leaving the Expand + key-only "
        "aggregate; sub-0.7 s absolute"
    ),
    "pii_scrub": (
        "projection-prune: the three chained regexp_replace passes and "
        "regexp_count audit columns are map-only projections count() "
        "never evaluates; noop pays the regex battery; sub-1.5 s "
        "absolute"
    ),
    "window_range_frame": (
        "window-prune: the range-frame aggregate column is "
        "unreferenced under count(); sub-0.35 s absolute"
    ),
    "asof_join": (
        "window-prune: the carry-forward last() payload is "
        "unreferenced under count(); the union+filter spine still runs"
    ),
    "doc_repetition": (
        "projection-prune: count() skips the n-gram string building "
        "of the repetition ratios"
    ),
    "text_quality": (
        "projection-prune: the quality-ratio columns are skipped "
        "under count(); sub-0.6 s absolute"
    ),
    "token_count": (
        "projection-prune: the token split is skipped under count(); "
        "sub-0.2 s absolute"
    ),
    "gopher_quality_filter": (
        "projection-prune: count() keeps only the rule flags' inputs; "
        "noop builds every staged single-eval column"
    ),
    "pricing_summary": (
        "agg-prune: count() drops the seven sum/avg expressions and "
        "keeps the two group keys (TPC-H Q1 shape)"
    ),
    "percentile_disc": (
        "agg-prune: count() drops the three percentile sorts, keeping "
        "group keys; sub-0.4 s absolute"
    ),
    "bigram_logprob": (
        "agg-prune/join-elim: the logprob sum over the vocab join "
        "prunes under count(); noop pays the c1/c2-pruned join"
    ),
    "incremental_decontaminate_fraction": (
        "join-elim: count() of the spine drops both decision-column "
        "left joins and the shingle pipeline behind them"
    ),
    "quality_classifier_frozen": (
        "join-elim: count() drops the row-preserving spine left join "
        "and with it the whole scoring pipeline (bigram buckets, "
        "broadcast weight join, per-doc aggregate, sigmoid)"
    ),
    "approx_sketches": (
        "agg-prune: count() drops the HLL/percentile sketch "
        "expressions, keeping group keys; sub-0.7 s absolute"
    ),
    "pivot_wide": (
        "agg-prune: count() drops the pivoted per-bucket aggregate "
        "columns, keeping group keys; sub-0.5 s absolute"
    ),
    "window_running": (
        "window-prune: count() drops the row-preserving running-sum "
        "Window operator entirely; noop pays the partition sort + "
        "frame evaluation; sub-1 s absolute"
    ),
    "funnel_steps": (
        "window-prune: count() drops the per-user step-ordering "
        "Window and the step-flag projections (row-preserving); noop "
        "pays them; sub-1.5 s absolute"
    ),
}


def bench_table(detail: dict) -> str:
    qs = detail["queries"]
    rows = detail.get("rows", {})
    # r10 re-baseline: "queries" is the noop-write GATE; the count
    # column is the diagnostic. Pre-r10 detail files carried the
    # opposite layout ("queries" = count, "queries_noop" = noop) —
    # refuse them rather than silently publishing a mixed-method table.
    if "queries_noop" in detail:
        raise SystemExit(
            "pre-r10 BENCH_DETAIL layout (count-based gate); re-run "
            "bench.py — the standing table's gate is noop-based from "
            "r10 on"
        )
    count = detail.get("queries_count", {})
    band = detail.get("queries_band", {})
    lines = [
        BENCH_BEGIN,
        f"Standing bench (`python bench.py`, sf{detail['sf']}, "
        f"{detail['n_queries']} headline queries, interleaved best-of-3 "
        f"forced-noop-WRITE): **total {detail['value']} s** "
        f"(source commit {_head()}).",
        "",
        "**r10 RE-BASELINE — method jump, read before comparing rounds:**",
        "the `sec` gate column is now the forced noop WRITE (every output",
        "column materialized, nothing collected), retiring the r9 caveat",
        "that count() lets Catalyst prune unreferenced columns, whole",
        "map-only projections, and row-preserving left joins. Totals from",
        "rounds <= r9 (BENCH_r01..r09, 112.004 s standing at r9) are",
        "count-based and NOT comparable to this gate; the driver's 2x",
        "comparison stays method-consistent because bench.py and this",
        "table switched in the same commit. The `count sec` column keeps",
        "the old method as the pruning diagnostic: a gate/count ratio",
        "near 2x on a map-only row means count() skipped roughly the",
        "string-building half of the projection.",
        f"Every row with g/c > {RATIO_NOTE_THRESHOLD} carries its",
        "count-pruning mechanism in the note column (r10; regeneration",
        "fails if one is missing).",
        "The `band` column (r11) is the same interleave's per-query",
        "min–max: same-code runs drift ±25% with hypervisor epochs (r10",
        "triplet), so judge a future single run as a STRUCTURAL",
        "regression only when it lands above the band",
        "(tools/bench_regress.py applies this automatically when the",
        "old side carries `queries_band`).",
        "",
        "| query | sec | band | count sec | g/c | rows | note |",
        "|---|---|---|---|---|---|---|",
    ]
    missing = []
    for name in sorted(qs, key=lambda n: -qs[n]):
        c_s = count.get(name)
        flagged = bool(c_s) and c_s > 0 and (
            qs[name] / c_s > RATIO_NOTE_THRESHOLD
        )
        ratio = f"{qs[name] / c_s:.2f}" if c_s else ""
        c_cell = f"{c_s:.3f}" if c_s is not None else ""
        note = RATIO_NOTES.get(name, "") if flagged else ""
        if flagged and not note:
            missing.append(f"{name} (g/c {ratio})")
        b = band.get(name)
        b_cell = f"{b[0]:.3f}–{b[1]:.3f}" if b else ""
        lines.append(
            f"| {name} | {qs[name]:.3f} | {b_cell} | {c_cell} | {ratio} | "
            f"{rows.get(name, '')} | {note} |"
        )
    if missing:
        raise SystemExit(
            f"rows above the {RATIO_NOTE_THRESHOLD}x gate/count "
            f"threshold lack a RATIO_NOTES mechanism entry: {missing}"
        )
    lines.append(BENCH_END)
    return "\n".join(lines)


def scale_table(probes: list[dict]) -> str:
    lines = [
        SCALE_BEGIN,
        "Scale probes (`tools/scale_probe.py K`): runtime ratio at K× the",
        "sf0.1 data (ids offset per replica; text/embeddings perturbed so",
        "near-dup ops see distinct rows). Ratio ≈ K = linear; ≪ K = fixed",
        "overhead still dominates; ≫ K = superlinear red flag.",
        "",
        "| query | k | 1x sec | kx sec | ratio |",
        "|---|---|---|---|---|",
    ]
    for probe in sorted(probes, key=lambda p: p["k"]):
        k = probe["k"]
        base = probe.get("base", "0.1")
        k_cell = f"{k}" if base == "0.1" else f"{k} (base sf{base})"
        for name, r in sorted(probe["queries"].items()):
            lines.append(
                f"| {name} | {k_cell} | {r['t1']:.2f} | {r['tk']:.2f} | {r['ratio']} |"
            )
    lines.append(SCALE_END)
    return "\n".join(lines)


def replace_block(text: str, begin: str, end: str, new: str) -> str:
    pat = re.compile(re.escape(begin) + r".*?" + re.escape(end), re.S)
    if not pat.search(text):
        raise SystemExit(f"BASELINE.md is missing the {begin} block")
    return pat.sub(new.replace("\\", "\\\\"), text)


def main() -> None:
    detail_path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        ROOT, "BENCH_DETAIL.json"
    )
    with open(detail_path) as f:
        detail = json.load(f)
    probes = []
    for p in sorted(glob.glob(os.path.join(ROOT, "tools", "probes", "probe_x*.json"))):
        with open(p) as f:
            probes.append(json.load(f))
    path = os.path.join(ROOT, "BASELINE.md")
    with open(path) as f:
        text = f.read()
    text = replace_block(text, BENCH_BEGIN, BENCH_END, bench_table(detail))
    if probes:
        text = replace_block(text, SCALE_BEGIN, SCALE_END, scale_table(probes))
    with open(path, "w") as f:
        f.write(text)
    print(
        f"BASELINE.md updated: {detail['n_queries']} bench rows, "
        f"{sum(len(p['queries']) for p in probes)} probe rows"
    )


if __name__ == "__main__":
    main()
