"""Window-site scale audit (round-9 verdict ask #3).

Scans every ``Window.partitionBy`` / ``Window.orderBy`` site in the
package, and every ``over_sql(`` site (a window written as SQL text), classifies it against the RULES map below (keyed by
(file basename, enclosing function) — stable across line drift), and
writes the one-line-per-site audit table to ``docs/WINDOW_AUDIT.md``.

The audit FAILS (non-zero exit; pinned by tests/test_window_audit.py)
when a site has no rule or a rule matches nothing — so adding a new
per-key window without classifying its scale behavior breaks the build,
and stale rules can't rot silently.

Classes:

- ``dispatched``        size-dispatched plain <-> segmented on per-key
                        footer rowcounts (the site is the plain branch
                        or the shared dispatcher's plain path)
- ``segmented-internal``the segmented machinery's own windows: keyed by
                        (key, segment|chunk) — per-partition rows are
                        bounded by chunk size / segment width — or the
                        config-sized per-segment carry (n_segments rows
                        per key)
- ``bucket-bounded``    partition key includes a time bucket / bar id /
                        gap group: per-partition rows bounded by bucket
                        occupancy, not data size
- ``entity-bounded``    per-key rows bounded by entity physics (events
                        per user, terms per doc, candidates per vector,
                        versions per doc) — key cardinality is what
                        scales, measured flat per key across SFs
- ``config-bounded``    per-key rows are config-sized (sampling grid,
                        centroid count, quantized domain, level depth)
- ``topk-grouplimit``   rank/row_number filtered to <= k: Spark 4
                        inserts WindowGroupLimit (map-side partial
                        top-k before the shuffle), bounding the sorted
                        set per key at k
- ``guard-unordered``   unordered count/min over partition used as a
                        hot-key guard; linear counting work, the
                        guarded quantity is what is being measured
- ``single-series``     explicit caveat: reference-semantics single-run
                        simulation (one execution episode); the grouped
                        fan-out twins partition by run keys
- ``helper``            generic window builder; every caller dispatches
                        or is classified at its own site
- ``diagnostic``        plotting/debug path, not on the gate surface
"""

from __future__ import annotations

import os
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "market_microstructure_toolkit_spark"

# (file basename, enclosing def) -> (class, note). One rule may cover
# several sites inside the same function (they share the scale story).
RULES: dict[tuple[str, str], tuple[str, str]] = {
    # --- market gates -----------------------------------------------
    ("market_queries.py", "q_book_level_stats"): (
        "config-bounded",
        "input is the per-(instrument, side, level) aggregate: rows = instruments x 2 x depth",
    ),
    ("market_queries.py", "build"): (
        "dispatched",
        "plain branch of the W6 reset-RV dispatch (gap-group frame; segmented twin add_rolling_rv_reset_segmented)",
    ),
    ("market_queries.py", "_corr_surface"): (
        "dispatched",
        "plain branch of the W10 dispatch (lags of the OFI and return features; segmented twin rolling_segmented)",
    ),
    ("market_queries.py", "q_book_tail"): (
        "topk-grouplimit",
        "row_number desc filtered to n: WindowGroupLimit bounds per-key sort at n",
    ),
    ("market_queries.py", "q_book_slice_sample"): (
        "dispatched",
        "plain branch; segmented twin = add_position_segmented rank phase",
    ),
    ("market_queries.py", "q_book_resample_ohlc"): (
        "bucket-bounded",
        "keyed on (instrument, 1s bucket): rows per partition = ticks per second",
    ),
    ("market_queries.py", "q_recorder_grid_sample"): (
        "dispatched",
        "plain branch; segmented twin = add_running_last_segmented carry",
    ),
    ("market_queries.py", "q_book_return_acf"): (
        "dispatched",
        "plain branch of the lag-chain dispatch (rolling_segmented twin)",
    ),
    ("market_queries.py", "q_book_realized_cov_matrix"): (
        "dispatched",
        "carry dispatches to the segmented fill; the grid-return lag runs over the config-sized 500-tick grid",
    ),
    ("market_queries.py", "q_book_tsrv"): (
        "dispatched",
        "plain branch of the two-scale lag dispatch",
    ),
    ("market_queries.py", "q_trade_dollar_bars"): (
        "bucket-bounded",
        "OHLC ranks keyed on (instrument, bar_id); the bar-id cumsum dispatches via add_cumulative_segmented",
    ),
    ("market_queries.py", "q_trade_volume_bars"): (
        "bucket-bounded",
        "OHLC ranks keyed on (instrument, bar_id); the qty cumsum size-dispatches to the segmented scan",
    ),
    ("market_queries.py", "q_trade_split_adjust"): (
        "dispatched",
        "plain branch; segmented twin = total minus ascending segmented cumsum",
    ),
    ("market_queries.py", "q_book_delta_reconstruct"): (
        "dispatched",
        "plain branch; segmented twin = per-field segmented forward fills",
    ),
    # --- corpus gates ------------------------------------------------
    ("corpus_queries.py", "q_source_cap_sample"): (
        "topk-grouplimit",
        "rank <= 40 per source: WindowGroupLimit keeps 40 per key map-side",
    ),
    ("corpus_queries.py", "q_dedup_embedding_nn"): (
        "entity-bounded",
        "rank over each vector's LSH candidate set (bucket caps bound candidates per vector) + top-k filter",
    ),
    ("corpus_queries.py", "q_documents_chunk_dedup"): (
        "topk-grouplimit",
        "rank-1 per chunk hash (duplicate multiplicity per content chunk)",
    ),
    ("corpus_queries.py", "q_corpus_exact_stratified_sample"): (
        "topk-grouplimit",
        "per-stratum exact top-n by md5 rank; WindowGroupLimit bounds at n",
    ),
    # --- streaming / tpch / similarity gates -------------------------
    ("streaming_queries.py", "build"): (
        "entity-bounded",
        "rank-1 per doc_id over CDC emissions: versions per doc, bounded by the change stream",
    ),
    ("tpch_queries.py", "q_top_orders"): (
        "topk-grouplimit",
        "top-3 orders per customer: WindowGroupLimit; orders per customer is entity-bounded anyway",
    ),
    ("similarity_queries.py", "q_embedding_hard_negatives"): (
        "topk-grouplimit",
        "rank over each query's candidate pool (bounded by bucket caps), filtered to k",
    ),
    # --- events gates -------------------------------------------------
    ("events_queries.py", "q_events_sessionize"): (
        "entity-bounded",
        "per-user lag + session cumsum: rows/user measured flat (<=99) at sf0.01..sf10 — scaling adds users",
    ),
    ("events_queries.py", "q_events_zorder_layout"): (
        "dispatched",
        "plain branch; segmented twin = add_position_segmented per z-cell",
    ),
    ("events_queries.py", "q_events_markov_transitions"): (
        "entity-bounded",
        "per-user lag (rows/user flat across SFs); the share window runs over the |event_type|^2 aggregate",
    ),
    ("events_queries.py", "q_users_scd2_build"): (
        "entity-bounded",
        "per-user ordered versioning: rows/user flat across SFs",
    ),
    # --- operators ----------------------------------------------------
    ("evaluation.py", "exact_auc"): (
        "config-bounded",
        "cumulative over DISTINCT quantized feature values per key (<= 2^20 + 1 after the q20 quantization)",
    ),
    ("dedup.py", "minhash_lsh_candidates"): (
        "guard-unordered",
        "bucket-size count guard (max_bucket hot-key cap) ahead of pair generation",
    ),
    ("dedup.py", "ngram_jaccard_pairs"): (
        "guard-unordered",
        "shingle doc-freq guard + per-doc shingle count (shingles per doc are entity-bounded)",
    ),
    ("dedup.py", "winnow_candidates"): (
        "guard-unordered",
        "fingerprint doc-freq guard (corpus-relative cap) ahead of the inverted-index self-join",
    ),
    ("dedup.py", "substring_dup_spans"): (
        "entity-bounded",
        "gaps-and-islands per doc: anchors per doc <= tokens per doc",
    ),
    ("attribution.py", "touch_attribution"): (
        "entity-bounded",
        "rangeBetween(-lookback, -1) per user: rows bounded by events within the lookback horizon",
    ),
    ("impact.py", "_numbered"): (
        "single-series",
        "reference single-run sim semantics (one execution episode); grouped fan-outs partition by run keys",
    ),
    ("impact.py", "simulate_twap_naive"): (
        "single-series",
        "slice ranking within one sim run; slices are config-counted",
    ),
    ("impact.py", "simulate_vwap_onbook_grouped"): (
        "single-series",
        "first/last pick per run key; the per-run series is one episode by construction",
    ),
    ("impact.py", "simulate_twap_real"): (
        "config-bounded",
        "dedup rank over the matched slice set: rows = n_slices (config)",
    ),
    ("bars.py", "ohlc_bars"): (
        "bucket-bounded",
        "keyed on (instrument, bucket): rows per partition = ticks per bucket",
    ),
    ("bars.py", "rollup_ohlc"): (
        "bucket-bounded",
        "keyed on (instrument, coarse bucket): rows = fine bars per coarse bar (config ratio)",
    ),
    ("depth.py", "depth_slope_across_levels"): (
        "config-bounded",
        "input is the per-(instrument, side, level) aggregate: rows = depth levels",
    ),
    ("packing.py", "pack_assignments"): (
        "dispatched",
        "plain branch; segmented twin = add_cumulative_segmented per shard",
    ),
    ("text_analysis.py", "tfidf_top_terms"): (
        "topk-grouplimit",
        "top-k terms per doc: terms per doc are entity-bounded, WindowGroupLimit bounds the sort at k",
    ),
    ("text_analysis.py", "ngram_novelty"): (
        "guard-unordered",
        "min(doc_id) per shingle — first-seen attribution; linear counting work per shingle",
    ),
    ("cdc.py", "apply_cdc"): (
        "entity-bounded",
        "conflict-dup guard + rank-1 per key within one batch: versions per key per batch",
    ),
    ("trades.py", "_w"): (
        "helper",
        "generic series window builder; every trades operator dispatches at its own call site (classify_lee_ready, vpin, kyle)",
    ),
    ("rangejoin.py", "sorted_interval_overlap_pairs"): (
        "dispatched",
        "plain branches; segmented twins = series_stages (contract lag), add_position_segmented (right index), add_cumulative_segmented (boundary counts)",
    ),
    ("asof.py", "asof_nearest"): (
        "dispatched",
        "plain branch; segmented twin = two direction-encoded segmented fills",
    ),
    ("asof.py", "asof_backward_union"): (
        "dispatched",
        "plain branch; segmented twin = add_running_last_segmented",
    ),
    ("window_metrics.py", "book_window"): (
        "helper",
        "canonical series window; every gate-level caller is dispatched or classified at its own site",
    ),
    ("window_metrics.py", "add_ofi_l1"): (
        "helper",
        "canonical series window of the OFI operators, as SQL text for the lobster formula; every gate-level caller dispatches or is classified at its own site",
    ),
    ("window_metrics.py", "add_rolling_rv_reset"): (
        "dispatched",
        "plain form of W6; gates dispatch to add_rolling_rv_reset_segmented",
    ),
    ("window_metrics.py", "add_rolling_corr"): (
        "dispatched",
        "plain form of W10; gates dispatch to the chunk+halo corr path. The per-key spec numbers rows and lags "
        "the suffix state (one task per key, like any plain series window); the (key, block) specs hold "
        "window rows each and reuse the per-key hash partitioning",
    ),
    ("window_metrics.py", "tail_n"): (
        "topk-grouplimit",
        "row_number desc filtered to n",
    ),
    ("window_metrics.py", "rolling_segmented"): (
        "segmented-internal",
        "(key, segment) rank, config-sized per-segment offset window, (key, chunk) local stages",
    ),
    ("window_metrics.py", "chunk_over_sql"): (
        "segmented-internal",
        "SQL text of rolling_segmented's (key, chunk) window: rows per partition bounded by chunk size",
    ),
    ("window_metrics.py", "add_position_segmented"): (
        "segmented-internal",
        "(key, segment) rank + config-sized per-segment offset window",
    ),
    ("window_metrics.py", "series_stages"): (
        "dispatched",
        "the plain path of the shared dispatcher itself",
    ),
    ("window_metrics.py", "add_cumulative_segmented"): (
        "segmented-internal",
        "(key, segment) local scan + config-sized offset window",
    ),
    ("window_metrics.py", "add_running_last_segmented"): (
        "segmented-internal",
        "(key, segment) local fill + config-sized carry window",
    ),
    ("similarity.py", "lsh_keyed"): (
        "guard-unordered",
        "bucket-size count guard (max_bucket) ahead of pair generation",
    ),
    # round 13: the pq_adc_scores / pq_train_codebooks / ivf_assign
    # argmin windows were replaced by min(struct(...)) aggregates
    # (map-side partial agg, no per-group sort) — no window site left
    ("trade_stream.py", "compose_epoch_buckets"): (
        "config-bounded",
        "per-symbol window over EPOCH SUMMARIES: rows = n_epochs "
        "(~256, epoch_ms targets it), not trades",
    ),
    ("plotting.py", "_stride_sample"): (
        "diagnostic",
        "plot down-sampler, not on the gate/bench surface",
    ),
}

#: a Column-built window, or a window written as SQL text: every OVER
#: clause in the package is built by window_metrics.over_sql
SITE_RE = re.compile(r"Window\.(partitionBy|orderBy)\(|(?<!def )\bover_sql\(")
DEF_RE = re.compile(r"\s*def (\w+)")


def scan() -> list[tuple[str, int, str, str]]:
    """(relpath, line, enclosing def, source line) per window site."""
    sites = []
    for path in sorted(PKG.rglob("*.py")):
        src = path.read_text().splitlines()
        for i, line in enumerate(src):
            if not SITE_RE.search(line):
                continue
            fn = ""
            for j in range(i, -1, -1):
                m = DEF_RE.match(src[j])
                if m:
                    fn = m.group(1)
                    break
            sites.append(
                (str(path.relative_to(REPO)), i + 1, fn, line.strip())
            )
    return sites


#: hint detection for dispatched sites (round-9 verdict #1: every
#: dispatched site must say which size hint it reads and why that hint
#: is skew-safe). Marker -> (hint name, skew story). Checked in order.
HINT_MARKERS: list[tuple[str, str, str]] = [
    (
        "book_rows_per_key",
        "book_rows_per_key (MAX per-key)",
        "measured key histogram (arrow column scan, memoized) — reports the "
        "hottest symbol's rowcount, so a 90%-hot key crosses the threshold "
        "the old footer-average missed (tests/test_skew_dispatch.py)",
    ),
    (
        "max((c for _, c in bins)",
        "max z-cell occupancy",
        "exact per-cell histogram already collected for file offsets — the "
        "dispatch reads its MAX, so spatially-concentrated data dispatches",
    ),
    (
        "parquet_rows",
        "rows // n_shards",
        "skew-safe by construction: the shard key is operator-assigned "
        "pmod(doc_id, n_shards), uniform for any id distribution — the "
        "operator controls the key, the data cannot skew it",
    ),
    (
        "use_segmented(None",
        "measured fallback",
        "groupBy-max per-key count on the actual frame — exact under any "
        "skew, costs one aggregate job",
    ),
]


def _fn_source(rel: str, fn: str) -> str:
    """Source text of function ``fn`` in ``rel`` (def line to next
    top/sibling-level def), used only for hint-marker detection."""
    src = (REPO / rel).read_text().splitlines()
    out, grab, indent = [], False, 0
    for line in src:
        m = DEF_RE.match(line)
        if m and m.group(1) == fn:
            grab, indent = True, len(line) - len(line.lstrip())
            out.append(line)
            continue
        if grab:
            if m and (len(line) - len(line.lstrip())) <= indent:
                break
            out.append(line)
    return "\n".join(out)


def _detect_hint(rel: str, fn: str) -> tuple[str, str]:
    body = _fn_source(rel, fn)
    for marker, name, story in HINT_MARKERS:
        if marker in body:
            return name, story
    return (
        "caller-supplied segmented=",
        "dispatch decided at the gate call site; this site is the "
        "mechanism, its callers carry the hint (each classified here too)",
    )


def audit() -> tuple[list[dict], list[str]]:
    """Classified rows + error strings (unclassified sites, dead rules)."""
    sites = scan()
    rows, errors, used = [], [], set()
    for rel, line, fn, text in sites:
        key = (os.path.basename(rel), fn)
        rule = RULES.get(key)
        if rule is None:
            errors.append(f"UNCLASSIFIED window site {rel}:{line} in {fn}()")
            continue
        used.add(key)
        row = {
            "site": f"{rel}:{line}", "fn": fn, "cls": rule[0], "note": rule[1]
        }
        if rule[0] == "dispatched":
            hint, story = _detect_hint(rel, fn)
            row["hint"] = hint
            row["note"] = f"{rule[1]} — hint: {hint}"
        rows.append(row)
    for key in RULES:
        if key not in used:
            errors.append(f"DEAD RULE {key} matches no site")
    return rows, errors


#: the committed audit table; tests/test_window_audit.py keeps it current
DOC = REPO / "docs" / "WINDOW_AUDIT.md"


def render() -> str:
    """The audit document for the package as it stands."""
    rows, errors = audit()
    lines = [
        "# Window-site scale audit (generated by tools/window_audit.py)",
        "",
        "Every `Window.partitionBy` / `Window.orderBy` / `over_sql(` site in the",
        "package, classified by its behavior when per-key data grows 100x. The audit",
        "is enforced: an unclassified site fails `tests/test_window_audit.py`.",
        "Class definitions live in the tool's module docstring.",
        "",
        f"**{len(rows)} sites, {len(set(r['cls'] for r in rows))} classes, "
        f"{len(errors)} errors.**",
        "",
        "| site | function | class | scale story |",
        "|---|---|---|---|",
    ]
    for r in rows:
        lines.append(
            f"| `{r['site']}` | `{r['fn']}` | {r['cls']} | {r['note']} |"
        )
    counts: dict[str, int] = {}
    for r in rows:
        counts[r["cls"]] = counts.get(r["cls"], 0) + 1
    lines += ["", "## By class", ""]
    for c in sorted(counts, key=counts.get, reverse=True):
        lines.append(f"- **{c}**: {counts[c]}")
    lines += [
        "",
        "## Dispatch hints and skew safety (round-10)",
        "",
        "Every `dispatched` site above names the hint its dispatch reads.",
        "The hint contract is **max per-key rowcount, never average** —",
        "an average stays under `SEG_THRESHOLD_ROWS` while a hot key's window",
        "serializes on one task. Hint families:",
        "",
    ]
    for _, name, story in HINT_MARKERS:
        lines.append(f"- **{name}** — {story}")
    lines.append("")
    return "\n".join(lines)


def main() -> int:
    rows, errors = audit()
    for e in errors:
        print(e, file=sys.stderr)
    DOC.write_text(render())
    print(f"-> {DOC} ({len(rows)} sites, {len(errors)} errors)")
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
