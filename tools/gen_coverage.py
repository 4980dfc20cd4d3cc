"""Generate COVERAGE.md: SURVEY §2 operator id -> registry queries,
modules, and tests that implement/verify it."""

from __future__ import annotations

import re
import sys
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from ag_data_ingestion_github_to_snowflake_spark.plans.registry import all_specs  # noqa: E402

# Non-query evidence: operator ids covered by modules/tests rather than
# (or in addition to) registry entries.
MODULE_EVIDENCE = {
    "A1": ["sources/rest.py:keyset_pages (the one pager, taken by fetch_repo_list)", "tests/test_cli.py::test_cli_replayed_page_is_listed_and_looked_up_once", "tests/test_ingestion.py::test_list_scan_pagination_and_watermark"],
    "A2": ["sources/rest.py:enrich_details (one mapInPandas task, serial lookups)", "tests/test_ingestion.py::test_enrichment_skips_404_and_flattens", "tests/test_cli.py::test_cli_batch_is_one_job_with_one_lookup_task_over_a_local_list_scan"],
    "A3": ["__main__.py:run (--use-cache seeds the watermark from the sink's max id)", "tests/test_cli.py::test_cli_use_cache_seeds_watermark_from_sink"],
    "A4": ["sources/state.py:FileWatermark", "tests/test_ingestion.py::test_incremental_extract_end_to_end_with_resume", "tests/test_ingestion.py::test_file_watermark_rejects_corrupt_state"],
    "A5": ["sources/rest.py:http_transport", "config.py (token tier)"],
    "A6": ["sources/sinks.py:partitioned_append (partitioned by the batch's run date, the reference's yyyy/mm/dd/ key)", "tests/test_ingestion.py::test_partitioned_sink_layout", "tests/test_cli.py::test_cli_batch_lands_as_one_file_under_its_run_date"],
    "A7": ["__main__.py:run (--use-cache seeds the watermark from the sink's max id)", "tests/test_cli.py::test_cli_use_cache_seeds_watermark_from_sink"],
    "A8": ["sources/state.py:FileWatermark", "sources/sinks.py:publish_batch + roll_forward (one commit record for data, metrics and watermark)", "tests/test_cli.py::test_cli_crash_at_any_commit_step_lands_each_batch_once"],
    "A9": ["dropped: the reference only documents its COPY INTO load; the CLI's partitioned parquet sink (A6) is the warehouse"],
    "A10": ["pipeline/github.py:flatten_repos", "tests/test_operators.py::test_flatten_golden"],
    "A11": ["sources/rest.py:list_scan_df budget slice", "tests/test_ingestion.py::test_budget_limit_truncates", "tests/test_ingestion.py::test_exhausted_budget_never_advances_watermark"],
    "A12": ["pipeline/github.py:valid_predicate", "tests/test_operators.py::test_validation_split_partitions_input"],
    "A13": ["pipeline/github.py:validation_split", "tests/test_ingestion.py::test_validation_split_counts"],
    "A14": ["sources/rest.py:enrich_details (GONE lookups and lookups answering for another id skip, any other failure fails the batch)", "tests/test_ingestion.py::test_enrichment_skips_404_and_flattens", "tests/test_cli.py::test_cli_lookup_answering_for_another_repository_is_skipped", "tests/test_cli.py::test_cli_gone_lookups_are_skipped_and_the_watermark_advances", "tests/test_cli.py::test_cli_transient_failure_fails_the_batch_and_loses_no_repository"],
    "A15": ["pipeline/github.py:observed_run_metrics + ExtractResult.metrics (observed on the sink write)", "sources/sinks.py:write_run_metrics (one row written by pyarrow on the driver)", "tests/test_cli.py::test_cli_run_metrics_row_matches_ground_truth", "tests/test_cli.py::test_cli_extraction_date_names_the_partition_off_utc"],
    "A16": [], "A17": [], "A18": [], "A19": [],
    "A20": ["sources/rest.py:http_transport + _retry_wait_s (retry on 429/5xx/599 and rate-limited 403: Retry-After, X-RateLimit-Reset, exponential backoff, 60 s cap)", "tests/test_rate_governor.py", "tests/test_ingestion.py::test_http_transport_retries_transient_calls_until_they_succeed"],
    "A21": ["pipeline/github.py:incremental_extract", "sources/sinks.py:roll_forward (a rerun finishes a published batch or re-fetches an unpublished one)", "tests/test_cli.py::test_cli_crash_at_any_commit_step_lands_each_batch_once"],
    "A22": ["__main__.py:run (one batch per scheduled firing, resumed from the watermark)", "examples/scheduled-extraction.yml (the reference's hourly cron)", "plans/streaming_queries.py:_run_available_now + _drain (the one AvailableNow drain of the streaming registry queries)", "tests/test_packaging.py::test_scheduler_example_mirrors_reference_cadence"],
    "B3": ["sources/sinks.py:partitioned_append (partitioned by the batch's run date)", "tests/test_ingestion.py::test_partitioned_sink_layout"],
    "B29": ["plans/curation_queries.py:argmax_order_per_segment (dedupe-to-latest as one max_by aggregation)"],
    "B44": ["streaming/streams.py (incl. interval_join)", "tests/test_streaming.py::test_streaming_checkpoint_resume"],
    "B45": ["plans/streaming_queries.py:_one_file_per_trigger", "tests/test_streaming.py::test_streaming_rate_cap_batches"],
    "B49": ["streaming/streams.py:with_watermark", "tests/test_streaming.py"],
    "B50": ["streaming/streams.py:dedup_stream", "tests/test_streaming.py::test_streaming_dedup_drops_duplicates"],
    "B51": ["operators/multimodal.py (mapInPandas kernels)"],
    "B52": ["plans/udf_io_queries.py:grouped_zscore_events (applyInPandas)"],
    "B54": ["operators/dedup.py (MinHash-LSH, SimHash)", "tests/test_operators.py::test_minhash_finds_near_dups_not_unrelated"],
    "B55": ["operators/similarity.py", "tests/test_operators.py::test_topk_ranks_by_similarity"],
    "B57": ["operators/multimodal.py + operators/codecs.py (real BMP/PPM/PNG/WAV decode)", "tests/test_codecs.py"],
}

SURVEY_IDS_ALL = [f"A{i}" for i in range(1, 23)] + [f"B{i}" for i in range(1, 58)]


def driver_ledger(specs) -> list[str]:
    """Cumulative driver-check ledger: for every registry query, which
    round's CORRECTNESS artifact recorded it (and with what outcome),
    plus whether it sits in the current _PRIORITY window (scheduled for
    the next driver run)."""
    import json

    from ag_data_ingestion_github_to_snowflake_spark.plans.registry import _PRIORITY

    rounds: dict[int, dict] = {}
    for p in sorted(ROOT.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", p.name)
        if m:
            rounds[int(m.group(1))] = json.loads(p.read_text())

    def outcome(rec: dict) -> str:
        if rec.get("hash_match"):
            return "green"
        if rec.get("err") == "no_oracle":
            return "rows-only"
        return "FAIL"

    next_round = (max(rounds) + 1) if rounds else 1
    window = set(list(_PRIORITY)[:50])
    lines = [
        "",
        "## Driver-check ledger (cumulative across rounds)",
        "",
        "The driver records at most 50 queries per round; `_PRIORITY`",
        "(plans/registry.py) rotates the window so cumulative coverage",
        "grows. Queries never yet driver-checked are verified by the",
        "local parity suite (tests/test_oracle_parity.py, same compare).",
        "",
        "| query | driver rounds (outcome) | in r%d window |" % next_round,
        "|---|---|---|",
    ]
    ever = 0
    for name in specs:
        hist = [
            f"r{r} ({outcome(res[name])})"
            for r, res in sorted(rounds.items())
            if name in res
        ]
        if hist:
            ever += 1
        sched = "yes" if name in window else ""
        lines.append(f"| `{name}` | {', '.join(hist) or '—'} | {sched} |")
    checked_ever = {n for r in rounds.values() for n in r}
    newly = len(window - checked_ever)
    lines.append("")
    lines.append(
        f"**Ledger totals:** {ever}/{len(specs)} queries driver-checked at "
        f"least once through r{max(rounds) if rounds else 0}; the r{next_round} "
        f"window schedules {newly} first-time names "
        f"(projected cumulative {ever + newly}/{len(specs)})."
    )
    # Pin the FOLLOWING round's window ahead of time so the rotation
    # plan is auditable: whatever is still unchecked after the current
    # window lands, plus a re-check of the sole-carrier core.
    tail = sorted(set(specs) - checked_ever - window)
    if tail:
        tail_fmt = [
            f"`{n}`" + (" (rows-only)" if specs[n].oracle is None else "")
            for n in tail
        ]
        lines.append("")
        lines.append(
            f"**r{next_round + 1} window (pinned):** the {len(tail)} names "
            f"still unchecked after a green r{next_round} — "
            + ", ".join(tail_fmt)
            + " — plus the 7 TPC-H-gap analogs deferred from the r9 "
            "draw (profit_by_nation_year, nation_volume_flows, "
            "market_share_by_year, customer_order_distribution, "
            "top_supplier_revenue, small_quantity_revenue, "
            "waiting_suppliers — last driver check r4); remaining "
            "slots re-green the most stale previously-checked names "
            "(the r5 cohort after a green r9)."
        )
    return lines


def main() -> None:
    by_id: dict[str, list[str]] = defaultdict(list)
    specs = all_specs()
    for name, spec in sorted(specs.items()):
        tag = "oracle ✓" if spec.oracle else "rows-only"
        for sid in spec.survey_ids:
            by_id[sid].append(f"`{name}` ({tag})")

    lines = [
        "# COVERAGE — SURVEY.md §2 operator inventory → implementation evidence",
        "",
        "Machine-generated by `tools/gen_coverage.py`; regenerate after adding",
        "queries. Query names refer to `__spark_entry__.queries()` entries; the",
        "driver hash-checks every *oracle ✓* entry against its SQL twin.",
        "",
        "| SURVEY id | queries() evidence | module/test evidence |",
        "|---|---|---|",
    ]
    missing = []
    for sid in SURVEY_IDS_ALL:
        q = "<br>".join(by_id.get(sid, []))
        m = "<br>".join(f"`{e}`" for e in MODULE_EVIDENCE.get(sid, []))
        if not q and not m:
            missing.append(sid)
        lines.append(f"| {sid} | {q or '—'} | {m or '—'} |")
    lines.append("")
    n_or = sum(1 for s in specs.values() if s.oracle)
    lines.append(
        f"**Totals:** {len(specs)} registry queries, {n_or} oracle-verified, "
        f"{len(specs) - n_or} rows-only; uncovered ids: {', '.join(missing) or 'none'}."
    )
    lines.extend(HARDENING_SECTION)
    lines.extend(R12_SUMMARY)
    lines.extend(driver_ledger(specs))
    (ROOT / "COVERAGE.md").write_text("\n".join(lines) + "\n")
    print(f"wrote COVERAGE.md: {len(specs)} queries, {n_or} oracles, missing={missing}")


# Static prose block (r12, VERDICT r11 item 5): the hash-contract
# determinism audit. Kept here so COVERAGE.md regeneration preserves it.
HARDENING_SECTION = """
## Hash-contract determinism audit (r12, VERDICT r11 item 5)

r11 proved two divergence classes can flip a driver hash on a build
the local box never sees: (1) epoch arithmetic mixing second-truncated
and fractional time (`kaplan_meier_survival`, fixed to exact integer
microseconds), and (2) values that pass through non-correctly-rounded
math — libm `ln/exp/pow/log10` (ulp differences across
glibc/musl/JVM/DuckDB builds) and engine `ROUND(double, k)` over long
float folds (algorithm differs between Spark's BigDecimal path and
DuckDB's float path, and can change across DuckDB releases). The r12
remediation, audited query-by-query:

**libm inventory — now EMPTY.** A static scan of every registered
oracle (`ln|exp|log|log2|log10|pow|power(`) and every Spark plan
(`F.log|F.exp|F.pow`) returns zero live call sites. The 25 queries
that carried libm were migrated to `operators/portable_math.py` — ln
via 12 repeated `sqrt` (IEEE-required correctly-rounded) + atanh
Horner, exp via x/4096 Taylor + 12 squarings, log10/pow derived —
emitted as SQL for BOTH engines, bit-identical on any build
(tests/test_portable_math.py asserts exact double byte equality over
a hostile grid): `mutual_info_lang_source, psi_population_stability,
fdr_bh_segment_tests, char_entropy_docs, dsir_importance_sample,
pmi_collocations_topk, stupid_backoff_trigram_lm, bm25_keyword_search,
quality_classifier_inference, doc_perplexity_unigram,
ccnet_perplexity_buckets, naive_bayes_lang_confusion,
record_linkage_fs, embedding_quantize_error (pow->multiply),
tfidf_top_terms, heaps_law_fit, zipf_law_fit, hll_overlap_users,
hll_verified_users_by_type, profile_orders_approx (pow(2,k) -> integer
shift), dp_laplace_counts, math_funcs_customer, sprt_sequential_ab
(ln of literals -> precomputed literals), weighted_sample_docs,
weighted_reservoir_topk`. Hidden-argmax/rank sites (naive_bayes'
class argmax, pmi/bm25/dsir/A-ES top-k keys) were treated as hashed
even though the float never reaches the output — selection IS a hash
dependency.

**Presentation convention.** Migrated contracts emit
`floor(1e6 * x)` (or 1e9 where resolution demands) as BIGINT `_e6`
columns instead of `ROUND(double, k)`: floor is an IEEE-exact
operation, so a bit-identical input quantizes identically on every
build. Cross-group float sums in migrated contracts replay as
key-ORDERED folds (`ordered_sum`/`ordered_sum_sql`) over provably
bounded groups. Non-migrated contracts whose hashed floats come from
exact decimal/integer inputs keep `ROUND` (a decimal-exact input
rounds identically everywhere); `ROUND(double)` over unordered float
folds no longer exists in any hashed column.

**Association parity (r12 self-review catch).** Correctly-rounded ops
are only bit-identical cross-engine when both sides evaluate the SAME
op sequence: `a*b*(c/d)` and `(a*b*c)/d` differ by an ulp on ~1/3 of
inputs. The stupid-backoff root score had exactly this divergence
(Spark multiplied alpha^2 by an already-divided ratio; the oracle
divides last), which the old ROUND(AVG(...),6) contract absorbed but
the per-row 1e-9 quantization would not — found by an adversarial
code review of the round's diff and fixed by mirroring the oracle's
left-associative text. Convention going forward: when a hashed (or
rank-deciding) float is built on both sides, emit the arithmetic from
ONE shared Python string (the `_fw_z`/`_platt_term`/`_psi_term`
pattern) instead of hand-translating Column algebra.

**Epoch-arithmetic inventory.** Remaining `unix_timestamp` sites,
both verified truncation-safe: `reshape_queries.py`
(linear_interp_gapfill) buckets absolute epochs by hour — truncating
to whole seconds can never move a non-negative timestamp across an
hour boundary, and the oracle's fractional `epoch(ts)/3600` floors to
the same bucket; `operators/temporal.py` interval-join bucketing uses
second-truncated keys only to PRUNE candidates — the exact residual
timestamp predicate decides membership.

**Why no multi-DuckDB-version sweep (VERDICT item 4's "ideally").**
The container has exactly one DuckDB wheel (1.0.0) and installs are
prohibited, so the cross-build failure mode cannot be exercised
locally. The remediation is therefore STRUCTURAL — no hashed value
passes through any operation a different build may compute
differently — and guarded by `tests/test_contract_determinism.py`
(static scan: no libm in any oracle or plan module, no ROUND over a
fold), so the property holds for new queries too.

**Residual known risk (r12).** `ROUND(double, k)` on single IEEE-chain
values (e.g. `math_funcs_customer.sqrt_bal`) remains in some passing
contracts; inputs are bit-identical cross-engine, so a red would
require the driver's DuckDB build to round the very same double
differently than 1.0.0 at a boundary — possible in principle;
migrating the remainder to `_e6` floors is mechanical follow-up work
if any ever reds.
""".splitlines()

R12_SUMMARY = """
## Round-12 session summary

Hardening round executing VERDICT r11 items 1-7 plus five new queries:

1. **Both r11 driver reds fixed and re-verified.**
   `kaplan_meier_survival`: exact integer-microsecond durations
   (timestampdiff MICROSECOND / epoch_us — the old pair truncated vs
   kept fractional seconds, reproduced and flipped at sf0.1) and a
   product-fold survival quantized by floor(1e6*s).
   `cramers_v_pairs`: chi-square assembled in 128-bit integer
   arithmetic (order-free integer sums; V derived through
   correctly-rounded ops + floor).
2. **libm eradicated from every hashed contract** (25 queries
   migrated to `operators/portable_math.py`; see the determinism
   audit above), guarded permanently by
   `tests/test_contract_determinism.py`.
3. **Driver window rebuilt**: the 7 never-checked names head the r12
   window, followed by the 2 red fixes, the 24 other migrated
   contracts, the 2 ADVICE decimal fixes, and 15 green
   re-confirmations; a green r12 drive makes the cumulative ledger
   341/341 driver-checked for the pre-r12 registry.
4. **Local gate now sweeps sf0.001/0.01/0.1** (`tools/driver_sim.py`
   default; `SPARK_GRAFT_PARITY_SF_DIRS` for the pytest parity suite)
   — the KM bug was invisible at the driver's own sf0.01.
5. **Performance kept honest**: the first ordered-fold form of four
   contracts measured 2-5x slower at 100x and was re-shaped to
   per-term integer quantization the same round (all migrated queries
   sub-linear, worst alpha +0.85); an adversarial self-review then
   caught a 1-ulp association mismatch in the stupid-backoff root
   score (fixed; convention recorded above).
6. **Bench observability**: per-query two-lane contention probes
   stamp every timed entry (BENCHLOG), and the r10->r11
   pricing_summary creep is attributed to shuffle-lane contention
   with a 6-rep isolated trace (BASELINE.md).
7. **Five new queries** (r13 window head, all born on the
   deterministic convention, all 3-sf green / bit-exact / sub-linear
   at 100x): `fightin_words_contrast`, `kl_divergence_sources`,
   `platt_scaling_grid`, `entropy_rate_bigram`,
   `js_divergence_lang_pairs`.

Closing state: 346 registry queries (336 oracle-bearing), suite
green, plan audit 337 clean / 9 allowlisted-bounded, precision audit
bit-exact on every changed contract, closing bench pair 13.85/13.95 s
headline with the full suite ~10% faster than the r11 driver line.
""".splitlines()


if __name__ == "__main__":
    main()
