"""Benchmark harness — runs the 50 driver-registry entries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) and prints ONE
SHORT JSON line:

{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...},
 "sf": ..., "extract_pages_per_min_per_core": ...,
 "extract_in_bench_pages_per_min_per_core": ..., "detail": "BENCH_DETAIL.json"}

`extract_pages_per_min_per_core` is measured in FRESH subprocess JVMs
(bench_extract.py, fixed best-of-5 with every run recorded) — the
figure comparable to the reference's fresh-process 300k
pages/min/thread claim. **The 2× gate reads
`extract_raw_median_pages_per_min_per_core`** — the median of the five
raw runs after dropping any run more than OUTLIER_DROP_FACTOR below
the sample max (r10 verdict #3: identical code at under half its own
in-session best is a host window, not a plan cost; the unfiltered
median stays recorded beside it). The calibrated median
(`extract_calibrated_median_pages_per_min_per_core`) is DEMOTED to a
diagnostic (r8 verdict #3a): the CPU-only probe tracked extract noise
at Pearson r = 0.18 in the r8 sample (probe times flat while extract
times swung 3×, i.e. the slowdowns were I/O/GC-shaped, not CPU-shaped)
so the calibration cannot be trusted to correct individual runs — it
stays recorded, with its per-sample Pearson r, to IDENTIFY host
windows, not to adjust the gate number. The `extract_in_bench_*`
sibling is the same kernel inside this long-lived JVM after the query
catalog, documenting the in-process decay rather than hiding it.

Full metadata (warmup/timing policy, extract breakdown, per-query row
counts) goes to the BENCH_DETAIL.json sidecar — round 3's inline form
overflowed the driver's tail capture and left the round without a
parseable artifact, so the stdout line now carries only what the
driver records.

**Contract-first ordering (r13, from r12 verdict #1):** the headline
JSON prints IMMEDIATELY after the query loop, BEFORE any diagnostics
(row counts, extract gate, sidecar) — both r12 driver runs timed out
(rc 124) inside the diagnostics with all 50 queries finished, and the
round lost its ground truth because the line used to print last. A
completed run re-prints the identical line enriched with the extract
fields as the FINAL stdout line; a run killed mid-diagnostics still
carries the early print. Every diagnostic is wall-budgeted
(EXTRACT_SUBPROC_TIMEOUT_SEC / EXTRACT_SECTION_BUDGET_SEC /
ADJUDICATION_BUDGET_SEC+ADJUDICATION_MAX_STAMPS / ROWS_BUDGET_SEC) so
a loaded host degrades to fewer diagnostic samples — never to a dead
round. Budgets are ~4-6x their quiet-host costs; a quiet run never
clips.

The timed set IS the driver's correctness registry (globallinks_spark.
queries.REGISTRY): 50 entries covering every cataloged operator —
consolidated suites time their member queries back-to-back in one
entry (see queries_suites.py for the fold). Only production paths are
timed; dual oracle-form variants (e.g. the expression form of
embedding_near_dup) live in FULL_REGISTRY and pytest, not here.

Each query materializes through the **noop sink**
(``df.write.format("noop")``), which consumes every output column.
``count()`` is NOT a valid bench action here: ColumnPruning rewrites
``Aggregate(count) ← Aggregate(funcs)`` by dropping the unreferenced
aggregate functions, so a count-timed aggregation query can skip its
own aggregates entirely (measured: the exact-percentile QA query timed
0.2 s under count() and 11 s under full materialization — the 0.2 s
never computed a percentile). Numbers from rounds ≤3 used count() and
under-report such queries; the noop-sink figures are the honest ones.

Warmup policy (documented, deliberate): before timing, every query runs
once at the smallest scale factor (sf0.001, same schemas) purely to
compile its generated code — Janino + HotSpot C2 costs are per generated
METHOD, not per dataset, and a cold first run attributes 5-10 s of
one-time compilation to whichever query hits a kernel first (measured:
dedup_minhash_lsh 11.0 s cold vs 2.0 s steady). On a real cluster each
executor compiles a stage once and then processes terabytes through it,
so steady-state per-query time is the number that predicts 100 TB
behavior. The timed runs still pay all data-dependent costs (scan,
shuffle, broadcast, persist) at the target SF — only code compilation is
pre-paid.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

from globallinks_spark.queries import REGISTRY
from globallinks_spark.session import get_spark

_HERE = os.path.dirname(os.path.abspath(__file__))
DETAIL_PATH = os.path.join(_HERE, "BENCH_DETAIL.json")

# ----- diagnostics budgets (r12 verdict #1) ----------------------------
# Both r12 driver bench runs timed out (rc 124) with all 50 queries
# FINISHED: the window died in the diagnostics that used to run between
# the query loop and the contract line — five fresh-JVM extract
# subprocesses each allowed 900 s (the 8-core run burned a full 900 s
# on one hang) plus per-entry adjudication probes that fire for MORE
# entries and run SLOWER exactly when the host is loaded. Two fixes:
# the contract line now prints IMMEDIATELY after the query loop (see
# main()), and every diagnostic is wall-budgeted below so even the
# diagnostics phase is bounded. Quiet-host costs for calibration: one
# fresh-JVM extract run ≈ 35 s, one per-entry probe set ≈ 6-10 s, the
# rows pass ≈ 30 s — each budget is ~4-6x its quiet cost, so a quiet
# run never clips and a windowed run degrades to fewer samples instead
# of a dead round. Pinned by
# tests/test_bench_contract.py::test_diagnostics_budgets.
EXTRACT_SUBPROC_TIMEOUT_SEC = 180   # per fresh-JVM subprocess; was 900
EXTRACT_SECTION_BUDGET_SEC = 360    # whole fresh-JVM extract section
ADJUDICATION_BUDGET_SEC = 240       # cumulative per-entry probe wall
ADJUDICATION_MAX_STAMPS = 8         # max entries probed per session
ROWS_BUDGET_SEC = 120               # post-contract row-count pass


def _fresh_jvm_extract_once(
    n_pages: int, cores: int, timeout_sec: int = EXTRACT_SUBPROC_TIMEOUT_SEC,
) -> dict | None:
    """One bench_extract.py subprocess (its own JVM); parsed JSON line."""
    try:
        proc = subprocess.run(
            [sys.executable, os.path.join(_HERE, "bench_extract.py"),
             str(n_pages), str(cores)],
            capture_output=True, text=True, timeout=timeout_sec, cwd=_HERE,
        )
    except (OSError, subprocess.TimeoutExpired) as exc:
        print(f"# fresh-JVM extract failed to launch: {exc}", file=sys.stderr)
        return None
    for line in reversed(proc.stdout.strip().splitlines()):
        line = line.strip()
        if line.startswith("{"):
            try:
                return json.loads(line)
            except json.JSONDecodeError:
                continue
    print(f"# fresh-JVM extract produced no JSON (rc={proc.returncode}); "
          f"stderr tail: {proc.stderr[-500:]}", file=sys.stderr)
    return None


# Pinned FRESH-JVM probe time for host-speed calibration: the 8-core
# string-cast+xxhash64 probe (bench_extract.host_calibration) measured
# 2.203 s on the round-6 judged host (Intel Xeon @ 2.10GHz, the host
# whose best-of-4 fresh-JVM run recorded 387,877 pages/min/core,
# BENCH_DETAIL r6). Every fresh-JVM run stamps its own probe time;
# calibrated value = raw × (run_probe_sec / this pin), which maps each
# run onto the pinned host's speed — a co-tenancy slow window inflates
# both the extract time and the probe time, so the ratio cancels the
# window to first order. r12 recheck: fresh-JVM quiet reads 2.15-2.3
# on the current host (PIN_PROVENANCE) — the pin holds for its
# fresh-JVM uses (extract-run calibration + fresh-run staleness).
PINNED_8CORE_STRHASH_SEC = 2.203

# The SAME strhash kernel read ~1.25x FASTER in a warm long-lived JVM
# (C2 tier-up across repeated builds of the probe plan): r12 quiet
# warm trials 1.64-1.77 s (median 1.71) while fresh-JVM trials read
# 2.15-2.3 s, and the r11 driver session independently recorded warm
# host_at_start 1.56 s / warm per-entry floor 1.66 s against fresh-run
# probes of 2.27-2.43 s. The per-entry adjudication probes run WARM
# (after the query catalog), so dividing them by the fresh pin
# systematically under-detected cpu windows by ~25% (a warm window had
# to reach 1.67x true warm quiet before stamping). Warm contexts
# (_light_host_probe, host_at_start) divide by this pin instead.
PINNED_8CORE_STRHASH_WARM_SEC = 1.71
EXTRACT_RUNS = 5

# Pinned quiet figure for the I/O-shaped probe (bench_extract.
# parquet_io_probe: 8M-row/~278 MB parquet scan+write, min-of-3 since
# r12 — was min-of-2). Re-pinned in r12 (r11 verdict #1/#5): the old
# 2.25 s pin came from r11 "quiet" trials spanning 1.77-2.77 s, but a
# fresh quiet-distribution recheck (PIN_PROVENANCE: 8 warm min-of-3
# trials 1.434-1.614 s + fresh-JVM 1.42 s, spread 1.14x) shows true
# quiet at ~1.5 s — the old pin baked a mild window into the
# denominator, so a real 2.2x io window read "quiet" (3.1 s / 2.25 =
# 1.38x < 1.5x band). The probe has no fresh/warm JVM split (it is
# parquet-IO-bound, not codegen-bound). The CPU strhash probe is
# measured blind to I/O/scheduler windows (Pearson r 0.18 vs extract
# noise in r8; quiet during 4 of 5 r10 stamped slowdowns), so
# adjudication consults both probes.
PINNED_IO_PROBE_SEC = 1.51
# The io probe's host-window band is wider than the 1.3x regression
# wire because its quiet spread is wider than strhash's (<1.1x). r11
# verdict #5 asked the band be justified by a recorded quiet
# distribution or a deeper sample — r12 does both: the probe is now
# min-of-3 (was min-of-2) and the recorded quiet min-of-3 distribution
# (PIN_PROVENANCE io_probe: 11 trials, 1.31-1.614 s, every one within
# 0.87-1.07x of the 1.51 pin) sits entirely under 1.07x of the pin, so
# 1.5x is clear air above every quiet trial and below any sustained
# I/O window that could move a min-of-2/3 entry timing. (The re-pin from
# 2.25 to 1.51 is what actually closed the blind band — see
# PINNED_IO_PROBE_SEC.)
IO_PROBE_WINDOW_RATIO = 1.5

# ----- pin lifecycle (r11 verdict #1) ---------------------------------
# Every host-window stamp divides a probe reading by one of the two
# pins above; a silently migrated/changed host would miscalibrate every
# verdict in either direction. The pins therefore carry (a) provenance
# — where each constant came from, with the trial distribution behind
# it — and (b) a per-session stale-pin self-check: the session's
# MINIMUM reading per probe class (the quietest moment the session saw)
# must sit inside PIN_STALE_BAND of the pin, else the whole artifact is
# stamped "pins stale — recalibrate" and every probe-ratio verdict is
# annotated, instead of emitting per-entry verdicts from a wrong
# denominator. The MIN is the right statistic: a co-tenancy window
# inflates readings upward of a correct pin (that is what the per-entry
# stamps detect), but a quiet minimum far from the pin means the HOST
# changed, not the load. Pinned by
# tests/test_bench_contract.py::test_pin_lifecycle.
PIN_STALE_BAND = (0.7, 1.3)

_R12_HOST = "Intel(R) Xeon(R) Processor @ 2.10GHz, 32 vCPU"

PIN_PROVENANCE: dict[str, dict] = {
    "strhash_8core_fresh": {
        "pinned_sec": PINNED_8CORE_STRHASH_SEC,
        "used_by": "fresh-JVM extract-run calibration (diagnostic) and "
                   "the fresh-run staleness check",
        "calibrated": (
            "round 6 (2026-07): bench_extract.host_calibration min-of-3 "
            "on the round-6 judged driver host (Intel Xeon @ 2.10GHz, "
            "32 vCPU) — the host whose best fresh-JVM extract run "
            "recorded 387,877 pages/min/core (BENCH_DETAIL r6)"
        ),
        "recheck": {
            "round": 12, "date": "2026-08-16", "host": _R12_HOST,
            "fresh_jvm_trials_sec": [2.147, 2.157, 2.256],
            "r11_driver_run_fresh_probes_sec":
                [2.434, 2.324, 2.337, 2.386, 2.272],
            "verdict": "pin holds for fresh-JVM contexts "
                       "(quiet fresh 2.15-2.3 s across r11/r12)",
        },
    },
    "strhash_8core_warm": {
        "pinned_sec": PINNED_8CORE_STRHASH_WARM_SEC,
        "used_by": "per-entry adjudication probes (_light_host_probe) "
                   "and host_at_start — both run in the warm bench JVM",
        "calibrated": (
            "round 12 (2026-08-16): median of 6 consecutive quiet "
            "warm-JVM trials on the r12 host; split from the fresh pin "
            "because the same kernel runs ~1.25x faster once C2 has "
            "tiered the probe plan up (r11 corroboration: warm "
            "host_at_start 1.56 s / warm per-entry floor 1.66 s in the "
            "same session whose fresh-JVM probes read 2.27-2.43 s)"
        ),
        "trials_sec": [1.725, 1.704, 1.72, 1.771, 1.662, 1.64],
        "host": _R12_HOST,
    },
    "io_probe": {
        "pinned_sec": PINNED_IO_PROBE_SEC,
        "used_by": "per-entry io adjudication probes and the io "
                   "staleness check (no fresh/warm split — IO-bound)",
        "calibrated": (
            "round 12 (2026-08-16): median of 11 quiet min-of-3 trials "
            "(8 warm-JVM + 3 fresh-JVM) on the r12 host — 1.31-1.614 s, "
            "every trial within 0.87-1.07x of the pin; REPLACES the r11 "
            "pin of 2.25 s whose 'quiet' trial set (1.77-2.77 s) "
            "evidently contained a mild sustained window — against true "
            "quiet of ~1.5 s, the old pin let a real 2.2x io window "
            "read as in-band"
        ),
        "trials_sec": [1.574, 1.558, 1.506, 1.614, 1.514, 1.434,
                       1.562, 1.511, 1.42, 1.31, 1.341],
        "host": _R12_HOST,
        "superseded_pins": [{"pinned_sec": 2.25, "rounds": "r10-r11"}],
    },
}


def _pin_staleness(
    probe: str, pinned_sec: float, readings: list[float | None],
    band: tuple[float, float] = PIN_STALE_BAND,
) -> dict | None:
    """One probe class's stale-pin self-check: compare the session's
    MINIMUM captured reading against the pin. Returns None when the
    session captured no reading of this class (nothing to check);
    otherwise a record with the verdict — "pin current" inside the
    band, "pins stale — recalibrate" outside it. Pinned by
    tests/test_bench_contract.py::test_pin_lifecycle."""
    vals = [v for v in readings if v]
    if not vals:
        return None
    lo = min(vals)
    ratio = lo / pinned_sec
    stale = not (band[0] <= ratio <= band[1])
    return {
        "probe": probe,
        "pinned_sec": pinned_sec,
        "session_min_sec": round(lo, 3),
        "n_readings": len(vals),
        "ratio_to_pin": round(ratio, 3),
        "band": list(band),
        "verdict": (
            "pins stale — recalibrate: the session's QUIETEST reading "
            f"sits {ratio:.2f}x the pin (outside {band[0]}-{band[1]}); "
            "per-entry probe-ratio verdicts divide by a wrong "
            "denominator on this host"
            if stale else "pin current"
        ),
    }


def _apply_pin_staleness(
    adjudication: dict[str, str], checks: list[dict],
) -> dict[str, str]:
    """When any probe class's pin failed the self-check, annotate every
    stamp that divides by a pin (host-window and unexplained — both are
    probe-ratio verdicts; expected/transient/confirmed are not) so a
    reader never trusts a ratio computed against a stale denominator."""
    stale = [c for c in checks if c and "stale" in c["verdict"]]
    if not stale:
        return adjudication
    which = ", ".join(
        f"{c['probe']} (session min {c['session_min_sec']}s vs pinned "
        f"{c['pinned_sec']}s)" for c in stale
    )
    return {
        name: (
            f"{v}; NOTE: PINS STALE this session — {which}; recalibrate "
            f"before trusting probe-ratio verdicts"
            if v.startswith(("host-window", "unexplained")) else v
        )
        for name, v in adjudication.items()
    }

# r10 verdict #3: the extract gate median must survive in-sample host
# windows (the r10 sample held a 77,328 run 3.4x below its neighbors on
# identical code, moving the gate median 1.15x -> 1.30x of baseline
# with no code change). Documented outlier rule, same spirit as the
# calibration cap: drop any run more than OUTLIER_DROP_FACTOR below the
# sample MEDIAN (a half-speed-or-worse run of identical code in the
# same session is a window, not a plan cost), then take the median of
# what remains. ADVICE r11 (medium): the anchor was the sample MAX,
# which is one-sided and fragile — one anomalously fast run (>2x the
# other four) would drop every other run and collapse the gate median
# to itself, inflating the very figure the filter protects; the median
# anchor cannot be moved by a single spike in either direction. The
# filter also REFUSES when fewer than MIN_KEPT_RUNS would survive
# (falls back to the unfiltered median, noted in the artifact). The
# unfiltered median stays recorded next to the filtered one either way.
OUTLIER_DROP_FACTOR = 2.0
MIN_KEPT_RUNS = 3


# ----- confirmed-stamp ledger (r11 verdict #2) ------------------------
# A "confirmed — investigate" stamp used to evaporate at session end
# (r11's three window-run confirmations were resolved in README prose).
# The ledger is machine state: open confirmations persist in
# BENCH_LEDGER.json and the NEXT bench run settles each one — the entry
# back inside the regression band closes it ("cleared in rN"), still
# outside escalates it ("regression, N rounds"). New confirmed stamps
# from the current session are appended as open.
LEDGER_PATH = os.path.join(_HERE, "BENCH_LEDGER.json")


def _this_round() -> int:
    """The driver round this bench run will be recorded as: one past
    the highest BENCH_r{N}.json on disk (filename only — even an
    unparseable artifact marks its round as taken)."""
    import glob

    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(_HERE, "BENCH_r*.json"))
        if (m := re.search(r"BENCH_r(\d+)\.json$", p))
    ]
    return max(rounds) + 1 if rounds else 1


def _load_ledger() -> dict:
    try:
        with open(LEDGER_PATH, encoding="utf-8") as fh:
            data = json.load(fh)
        if isinstance(data, dict):
            return data
    except (OSError, json.JSONDecodeError, ValueError):
        pass
    return {"open": [], "closed": []}


def _settle_ledger(
    ledger: dict,
    this_round: int,
    timings: dict[str, float],
    baseline: dict[str, float],
    adjudication: dict[str, str],
) -> dict:
    """Settle every open confirmation against this session's timings,
    then append this session's fresh "confirmed" stamps as open items.

    - entry timed and back inside the regression band (<= ratio wire or
      <= absolute floor vs baseline) → moved to closed, "cleared in rN"
    - entry timed and still outside → stays open, escalated with the
      open-round count ("regression, N rounds")
    - entry not in this run's registry/baseline → carried untouched

    The baseline here is the same min-of-last-N-rounds figure the wire
    uses, so "cleared" means exactly "would not trip the wire today".
    Pinned by tests/test_bench_contract.py::test_confirmed_ledger."""
    open_items: list[dict] = []
    closed = list(ledger.get("closed", []))
    for item in ledger.get("open", []):
        entry = item.get("entry")
        sec = timings.get(entry)
        base = baseline.get(entry)
        if sec is None or base is None:
            open_items.append(dict(
                item, status=f"carried — not timed/baselined in r{this_round}"
            ))
            continue
        if (sec <= REGRESSION_PROBE_RATIO * base
                or sec - base <= REGRESSION_MIN_DELTA_SEC):
            closed.append(dict(
                item,
                status=f"cleared in r{this_round}",
                cleared_sec=sec,
                cleared_baseline_sec=base,
            ))
        else:
            rounds_open = this_round - int(item.get("round", this_round)) + 1
            open_items.append(dict(
                item,
                status=(
                    f"regression, {rounds_open} rounds (r{this_round}: "
                    f"{sec:.3f}s vs baseline {base:.3f}s)"
                ),
            ))
    carried = {i.get("entry") for i in open_items}
    for entry, verdict in adjudication.items():
        if verdict.startswith("confirmed") and entry not in carried:
            open_items.append({
                "entry": entry,
                "round": this_round,
                "first_sec": timings.get(entry),
                "baseline_sec": baseline.get(entry),
                "stamp": verdict,
                "status": "open",
            })
    return {
        "policy": (
            "open items are 'confirmed — investigate' stamps carried "
            "across rounds; each bench run re-checks every open entry "
            "against its current min-of-last-"
            f"{N_BASELINE_ROUNDS}-rounds baseline and the "
            f"{REGRESSION_PROBE_RATIO}x/"
            f"{REGRESSION_MIN_DELTA_SEC}s wire: back in band -> closed "
            "('cleared in rN'), still out -> escalated "
            "('regression, N rounds')"
        ),
        "settled_round": this_round,
        "open": open_items,
        "closed": closed,
    }


def _pearson(xs: list[float], ys: list[float]) -> float | None:
    """Pearson r, or None when the sample is too small/degenerate."""
    import statistics

    if len(xs) < 3 or len(set(xs)) < 2 or len(set(ys)) < 2:
        return None
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    sxy = sum((x - mx) * (y - my) for x, y in zip(xs, ys))
    sxx = sum((x - mx) ** 2 for x in xs)
    syy = sum((y - my) ** 2 for y in ys)
    return round(sxy / (sxx * syy) ** 0.5, 3)


def _fresh_jvm_extract(
    n_pages: int = 100_000,
    cores: int = 8,
    budget_sec: float = EXTRACT_SECTION_BUDGET_SEC,
    _clock=time.monotonic,
    fallback: dict | None = None,
) -> dict | None:
    """Exactly EXTRACT_RUNS fresh-subprocess runs of the extract kernel
    (each its own JVM). The reference's 300k pages/min/thread figure is
    a fresh-process measurement, so the gate-comparable number comes
    from isolated JVMs — but single runs on driver-provisioned VMs
    swing up to 10× with nothing else running (round 6 measured
    87k-388k for identical code; hypervisor co-tenancy invisible to
    guest steal accounting). The run count is FIXED: round 6's
    retry-while-slow rule resampled only in one direction, which biases
    a max-of-N headline upward (ADVICE r6) — with a fixed N and every
    run recorded, the sampling is symmetric.

    Three forms, all recorded:
      value                    best-of-N raw — symmetric vs the
                               reference's "up to 300k" claim
      value_raw_median         median of the raw per-run values — THE
                               GATE FIGURE (r8 verdict #3a: the pure-CPU
                               probe did not track extract noise,
                               Pearson r 0.18, so calibration is demoted
                               to diagnostic and the gate reads the
                               uncorrected median)
      value_calibrated_median  median of the per-run host-calibrated
                               values (raw × run_probe/pinned probe,
                               see PINNED_8CORE_STRHASH_SEC) — kept as
                               the host-window DIAGNOSTIC next to its
                               probe_extract_sec_pearson_r
    """
    import statistics

    results: list[dict] = []
    skipped = 0
    t_section = _clock()
    for i in range(EXTRACT_RUNS):
        # r12 verdict #1: the section is wall-budgeted — once the runs
        # already taken have consumed the budget, the remaining fresh-JVM
        # launches are skipped (budget-clipped, recorded in the artifact)
        # instead of riding a slow window past the driver's timeout.
        if i > 0 and _clock() - t_section > budget_sec:
            skipped = EXTRACT_RUNS - i
            print(f"# extract section budget ({budget_sec:.0f}s) "
                  f"exhausted after {i} runs; skipping the remaining "
                  f"{skipped} fresh-JVM runs (budget-clipped)",
                  file=sys.stderr)
            break
        r = _fresh_jvm_extract_once(n_pages, cores)
        if r is not None:
            results.append(r)
            print(f"# fresh-JVM extract run: {r['value']} "
                  f"(extract_sec {r['extract_sec']}, 8-core probe "
                  f"{r.get('host', {}).get('jvm_8core_160M_strhash_sec')})",
                  file=sys.stderr)
    if not results:
        # no fresh-JVM run landed: the in-bench figure stands in when
        # one exists, still carrying the run list and the clip count
        return None if fallback is None else _fallback_extract(
            fallback, runs_budget_clipped=skipped
        )
    best = max(results, key=lambda r: r["value"])
    probes = [
        r.get("host", {}).get("jvm_8core_160M_strhash_sec")
        for r in results
    ]
    calibrated = [
        round(r["value"] * p / PINNED_8CORE_STRHASH_SEC)
        for r, p in zip(results, probes) if p
    ]
    best["runs_pages_per_min_per_core"] = [r["value"] for r in results]
    if skipped:
        best["runs_budget_clipped"] = skipped
        best["runs_budget_note"] = (
            f"section wall budget {budget_sec:.0f}s exhausted; "
            f"{skipped} of {EXTRACT_RUNS} fresh-JVM runs skipped — the "
            f"gate median reads the runs actually taken (r12 verdict #1)"
        )
    best["runs_8core_strhash_sec"] = probes
    best["runs_extract_sec"] = [r.get("extract_sec") for r in results]
    best["runs_calibrated_pages_per_min_per_core"] = calibrated
    # THE GATE FIGURE (r8 verdict #3a, outlier rule r10 verdict #3,
    # median anchor ADVICE r11): median of the raw runs AFTER dropping
    # any run more than OUTLIER_DROP_FACTOR below the sample MEDIAN —
    # identical code in the same session running at under half the
    # sample's typical rate is a host window (the r10 sample held a
    # 77,328 run 3.4x below its neighbors), not a plan cost. Anchoring
    # on the median (not the max) means one anomalously fast run can
    # never drop the rest of the sample and crown itself the gate; and
    # when fewer than MIN_KEPT_RUNS would survive, the filter refuses
    # and the unfiltered median rules. The rule still can never push
    # the median above any rate actually measured, and the unfiltered
    # median stays recorded beside it.
    raws = [r["value"] for r in results]
    anchor = statistics.median(raws)
    kept = [v for v in raws if v * OUTLIER_DROP_FACTOR >= anchor]
    dropped = [v for v in raws if v * OUTLIER_DROP_FACTOR < anchor]
    refused = len(kept) < MIN_KEPT_RUNS
    if refused:
        kept, dropped = raws, []
    best["value_raw_median"] = round(statistics.median(kept))
    best["value_raw_median_unfiltered"] = round(statistics.median(raws))
    best["runs_dropped_as_outliers"] = sorted(dropped)
    best["outlier_rule"] = (
        f"runs more than {OUTLIER_DROP_FACTOR}x below the sample MEDIAN "
        f"are dropped before the gate median (in-sample host windows; "
        f"r10 verdict #3, median anchor ADVICE r11); dropped "
        f"{len(dropped)} of {len(raws)}"
        + ("; filter REFUSED — fewer than "
           f"{MIN_KEPT_RUNS} runs would survive, unfiltered median used"
           if refused else "")
    )
    best["gate_policy"] = (
        "the 2x gate reads value_raw_median (outlier-filtered median "
        "of the raw runs — see outlier_rule); value_calibrated_median "
        "is a host-window diagnostic only (its probe is CPU-bound and "
        "measured Pearson r 0.18 against extract noise in r8 — "
        "I/O/GC-shaped windows pass through it uncorrected)"
    )
    if calibrated:
        # ADVICE r7 (medium): the probe is pure CPU while the extract
        # kernel also has I/O/GC/shuffle components, so on a host slow
        # for NON-CPU reasons the ratio over-corrects and the calibrated
        # figure could exceed any rate actually achieved anywhere.
        # Calibration may only CANCEL noise, never manufacture
        # throughput: the gate value is capped at the best RAW rate
        # this sample actually measured.
        uncapped = round(statistics.median(calibrated))
        cap = max(r["value"] for r in results)
        best["value_calibrated_median_uncapped"] = uncapped
        best["value_calibrated_median"] = min(uncapped, cap)
        best["calibration_cap_raw_best"] = cap
        best["calibration_capped"] = uncapped > cap
        # linearity evidence for the calibration assumption: across the
        # sample, a slower probe should mean a proportionally slower
        # extract. Pearson r between per-run probe time and extract
        # time — recorded so a round where the correlation collapses
        # (host slow for non-CPU reasons) is self-diagnosing.
        xs = [p for p in probes if p]
        ys = [r.get("extract_sec") for r, p in zip(results, probes) if p]
        r_cpu = _pearson(xs, ys)
        if r_cpu is not None:
            best["probe_extract_sec_pearson_r"] = r_cpu
    # r10 verdict #2: the I/O-shaped probe's correlation against the
    # same extract times, recorded beside the CPU probe's — the pair
    # shows WHICH cost class each round's windows live in (r8 measured
    # the CPU probe at r=0.18 while extract swung 3x, i.e. the windows
    # were I/O/GC-shaped; this records whether the io probe sees them)
    io_probes = [
        r.get("host", {}).get("parquet_io_probe_sec") for r in results
    ]
    best["runs_io_probe_sec"] = io_probes
    xs = [p for p in io_probes if p]
    ys = [r.get("extract_sec") for r, p in zip(results, io_probes) if p]
    r_io = _pearson(xs, ys)
    if r_io is not None:
        best["io_probe_extract_sec_pearson_r"] = r_io
    best["pinned_probe_sec"] = PINNED_8CORE_STRHASH_SEC
    best["calibration"] = (
        f"raw × (run 8-core strhash probe / pinned "
        f"{PINNED_8CORE_STRHASH_SEC} s, the round-6 judged host); "
        f"median over {len(calibrated)} calibrated runs, capped at the "
        f"best raw rate in the sample (calibration cancels noise, "
        f"never manufactures throughput)"
    )
    return best


def _fallback_extract(
    extract_in_bench: dict, runs_budget_clipped: int = 0,
) -> dict:
    """When every fresh-JVM launch fails, fall back to the in-bench
    figure rather than record nothing — flagged as such everywhere
    (ADVICE r6: the one-line output carries
    extract_measurement=in-bench-fallback). ADVICE r7: the calibrated
    figure lands under a DISTINCT field name
    (``value_calibrated_fallback``) — ``value_calibrated_median``
    promises a median of fresh-JVM runs, and a consumer keying on that
    name alone must never read a single warm in-process run as the
    headline; tests/test_bench_contract.py pins the absence.

    The fresh-JVM run list is always present — empty here — together
    with how many launches the section budget clipped: README cites
    ``runs_pages_per_min_per_core``, and a round whose every launch
    failed or was clipped must still resolve it."""
    extract = dict(extract_in_bench)
    extract["runs_pages_per_min_per_core"] = []
    extract["runs_budget_clipped"] = runs_budget_clipped
    probe = extract.get("host", {}).get("jvm_8core_160M_strhash_sec")
    if probe:
        # the in-bench probe runs in the WARM long-lived JVM → warm pin
        # (r12: dividing a warm reading by the fresh pin deflated the
        # calibrated figure ~25%)
        extract["value_calibrated_fallback"] = round(
            extract["value"] * probe / PINNED_8CORE_STRHASH_WARM_SEC
        )
        extract["pinned_probe_sec"] = PINNED_8CORE_STRHASH_WARM_SEC
        extract["calibration"] = (
            f"IN-BENCH FALLBACK single run × (warm probe / pinned warm "
            f"{PINNED_8CORE_STRHASH_WARM_SEC} s) — NOT a fresh-JVM "
            f"median; see value_calibrated_fallback"
        )
    extract["fallback_in_bench"] = True
    return extract


def _materialize(df) -> None:
    """Evaluate EVERY output column (noop sink). See module docstring —
    count() lets ColumnPruning skip unreferenced aggregate functions."""
    df.write.format("noop").mode("overwrite").save()


# Any entry whose best-of-N exceeds this multiple of its previous-round
# driver figure gets a host probe stamped regardless of absolute time
# (r8 verdict #1: four sub-3s dedup entries regressed 30-70% in a
# co-tenant window and carried no probe of their own, so the delta was
# unexplainable entry-by-entry). 1.3 sits above the observed quiet-host
# noise floor (spread ≤ ~1.2) and below every co-tenancy swing seen so
# far (1.3×-8.7×).
REGRESSION_PROBE_RATIO = 1.3

# The regression wire's absolute floor: an entry must regress by MORE
# than this many seconds (as well as >REGRESSION_PROBE_RATIO relative)
# to trip. Sub-0.3 s entries live at local-mode scheduling granularity
# — dataset_split (3 output rows) measured 0.21-0.62 s across quiet
# same-code sessions in r10 (BENCH_R10_WINDOWS) and r11, where 1.3x is
# ~60 ms of jitter; it drew an "unexplained" stamp in BOTH rounds with
# nothing to find. A real regression on a tiny entry (2x = +0.2 s+)
# still clears the floor.
REGRESSION_MIN_DELTA_SEC = 0.15

# How many prior driver rounds feed the per-entry regression baseline.
# r9 verdict #4: comparing only against the PREVIOUS round lets a
# ~1.26×/round drift compound to 1.6× over two rounds without ever
# tripping the 1.3× wire; taking each entry's MIN over its last three
# driver figures anchors the trigger to the entry's recent best, so
# slow drift accumulates against a fixed point and trips.
N_BASELINE_ROUNDS = 3

# Entries whose COMPOSITION changed recently (suite membership or
# parameters) — a cross-round delta on these is an intentional code
# change, and the adjudication stamp says so instead of mislabeling it
# a host window or an unexplained regression. Each entry records the
# ROUND its change landed in; _active_changed_note expires the note
# mechanically once the min-of-last-N_BASELINE_ROUNDS baseline consists
# entirely of post-change rounds (ADVICE r10: the expiry used to be a
# comment — a stale note would auto-excuse any real future regression
# on these entries indefinitely). Expiring earlier would re-flag the
# same delta against a pre-change baseline.
CHANGED_ENTRIES: dict[str, tuple[int, str]] = {
    "ann_lsh_suite": (10, (
        "r10: sq_knn_join folded in as 5th member (r9 verdict #1); "
        "adds its ~1.1 s sf0.1 cost to the suite"
    )),
    "dedup_docs_suite": (10, (
        "new r10 fold (dedup_exact_docs + dedup_multitable_lsh, "
        "r9 verdict #1); no prior driver figure before r10"
    )),
    "compaction_merge": (11, (
        "r11: window-prefilter plan replaced by the production "
        "two-phase aggregation (r10 verdict #4) — ~1.3 s slower at "
        "sf0.1 (two sorts vs one) but skew-bounded at scale: 40.4x -> "
        "3.3x wall at the 100x hot-key rung, 9.2x -> 1.1x max/median "
        "merge-task spread, spill -> 0 (SKEW_PROBE.json "
        "compaction_merge_100x); rows bit-identical, same oracle"
    )),
}


def _active_changed_note(name: str, baseline_rounds: list[int]) -> str | None:
    """The composition-change note for ``name``, or None once EVERY
    round feeding the entry's baseline is at/after the change round —
    from then on the baseline is entirely post-change figures and a new
    delta is a real regression, not the remembered composition change.
    Pinned by tests/test_bench_contract.py::test_changed_entries_expire."""
    entry = CHANGED_ENTRIES.get(name)
    if entry is None:
        return None
    change_round, note = entry
    if baseline_rounds and min(baseline_rounds) >= change_round:
        return None
    return note


def _probe_reason(best_sec: float, baseline_sec: float | None) -> str | None:
    """The probe-policy decision for one entry: a probe is stamped when
    best-of-N exceeds 3 s (absolute) or REGRESSION_PROBE_RATIO × the
    entry's baseline — the MIN of its last N_BASELINE_ROUNDS driver
    figures (relative, any magnitude). Returns the trigger string for
    the artifact, or None. Pinned by
    tests/test_bench_contract.py::test_regression_probe_policy."""
    if best_sec > 3.0:
        return "abs>3s"
    if (baseline_sec
            and best_sec > REGRESSION_PROBE_RATIO * baseline_sec
            and best_sec - baseline_sec > REGRESSION_MIN_DELTA_SEC):
        return (
            f"regression {best_sec:.3f}s vs min-of-last-"
            f"{N_BASELINE_ROUNDS}-rounds {baseline_sec:.3f}s "
            f"(>{REGRESSION_PROBE_RATIO}x and >{REGRESSION_MIN_DELTA_SEC}s)"
        )
    return None


def _adjudicate(
    best_sec: float,
    baseline_sec: float | None,
    probe_sec: float | None,
    io_probe_sec: float | None = None,
    changed_note: str | None = None,
) -> str | None:
    """Auto-adjudicate one entry's cross-round delta (r9 verdict #3 —
    the probe evidence existed but the verdict lived in a human
    dividing two numbers). Returns None when the entry is inside the
    noise band; otherwise a stamp:

    - "expected — ..."     the entry's composition changed this round
    - "host-window ..."    an in-run probe also ran slow — the CPU
                           strhash probe above REGRESSION_PROBE_RATIO ×
                           PINNED_8CORE_STRHASH_SEC, OR (r10 verdict
                           #2) the parquet scan+write probe above
                           IO_PROBE_WINDOW_RATIO × PINNED_IO_PROBE_SEC;
                           the CPU probe alone is measured blind to the
                           I/O/scheduler windows that caused 4 of 5 r10
                           stamps
    - "unexplained — ..."  every captured probe was quiet while the
                           entry regressed: investigate, don't wave off
                           (main() then re-runs the entry once and
                           re-stamps via _rerun_adjudicate)
    Pinned by tests/test_bench_contract.py::test_adjudication_policy."""
    if (not baseline_sec
            or best_sec <= REGRESSION_PROBE_RATIO * baseline_sec
            or best_sec - baseline_sec <= REGRESSION_MIN_DELTA_SEC):
        return None
    if changed_note:
        return f"expected — composition changed: {changed_note}"
    if probe_sec is None and io_probe_sec is None:
        return "unexplained — regressed but no host probe captured; investigate"
    # per-entry probes run in the WARM bench JVM → warm pin (r12: the
    # fresh pin under-detected warm cpu windows by ~25%, see
    # PINNED_8CORE_STRHASH_WARM_SEC)
    ratio = (probe_sec / PINNED_8CORE_STRHASH_WARM_SEC
             if probe_sec is not None else None)
    io_ratio = (io_probe_sec / PINNED_IO_PROBE_SEC
                if io_probe_sec is not None else None)
    if ratio is not None and ratio > REGRESSION_PROBE_RATIO:
        return (f"host-window (cpu probe {ratio:.2f}x pinned warm "
                f"{PINNED_8CORE_STRHASH_WARM_SEC} s)")
    if io_ratio is not None and io_ratio > IO_PROBE_WINDOW_RATIO:
        return (f"host-window (io probe {io_ratio:.2f}x pinned "
                f"{PINNED_IO_PROBE_SEC} s; cpu probe "
                + (f"{ratio:.2f}x" if ratio is not None else "missing")
                + ")")
    quiet = " and ".join(
        p for p in (
            f"cpu {ratio:.2f}x" if ratio is not None else None,
            f"io {io_ratio:.2f}x" if io_ratio is not None else None,
        ) if p
    )
    return (
        f"unexplained — probes quiet ({quiet} of pinned) while entry "
        f"ran {best_sec / baseline_sec:.2f}x baseline; investigate"
    )


def _rerun_adjudicate(
    best_sec: float, baseline_sec: float, rerun_sec: float,
) -> str:
    """Second-chance stamp for an entry first adjudicated "unexplained"
    (r10 verdict #1): main() re-runs the entry once in-session — all
    four r10 unexplained stamps were ≤2.2 s entries whose manual
    four-runs-same-day investigation (BENCH_R10_WINDOWS.json) showed
    them flip-flopping on identical plans, so a same-session re-run
    costs seconds and closes the loop without a human. A re-run back
    inside the REGRESSION_PROBE_RATIO band proves the first sample was
    transient; a re-run still outside it is a confirmed regression to
    investigate. The re-run never replaces the recorded timing — that
    would be one-directional resampling, the r6 bias (only slow entries
    would earn extra min() samples). Pinned by
    tests/test_bench_contract.py::test_rerun_adjudication_policy."""
    if (rerun_sec <= REGRESSION_PROBE_RATIO * baseline_sec
            or rerun_sec - baseline_sec <= REGRESSION_MIN_DELTA_SEC):
        return (
            f"transient — rerun {rerun_sec:.3f}s within "
            f"{REGRESSION_PROBE_RATIO}x baseline band "
            f"(first sample {best_sec:.3f}s)"
        )
    return (
        f"confirmed — rerun {rerun_sec:.3f}s still "
        f"{rerun_sec / baseline_sec:.2f}x baseline; investigate"
    )


# How many sibling window-evidence stamps (host-window or transient)
# in one session make a "confirmed" stamp suspect: a window that
# OUTLASTS the session defeats the in-session rerun too (measured —
# BENCH_R11_WINDOW_RUN.json's ann_ivf read 2.2x baseline through its
# rerun inside a session where 8 siblings stamped window evidence,
# then 1.12x on a quiet re-measure minutes later), and widespread
# same-session stamps are exactly what such a window looks like.
SESSION_WINDOW_STAMPS = 3


def _contextualize_confirmed(adjudication: dict[str, str]) -> dict[str, str]:
    """Post-pass over the per-entry stamps: annotate every "confirmed"
    verdict with the session-wide window evidence when
    SESSION_WINDOW_STAMPS or more sibling entries stamped host-window
    or transient in the same run — the reader then knows the confirmed
    stamp rode a session-long window and needs a quiet-session recheck
    before being treated as a plan regression. A confirmed stamp in an
    otherwise-quiet session stays clean, which is the strong signal.
    Pinned by tests/test_bench_contract.py::test_confirmed_context."""
    windowish = sum(
        1 for v in adjudication.values()
        if v.startswith("host-window") or v.startswith("transient")
    )
    if windowish < SESSION_WINDOW_STAMPS:
        return adjudication
    return {
        name: (
            f"{v}; NOTE: {windowish} sibling entries stamped "
            f"host-window/transient this session — a session-long "
            f"window also defeats the in-session rerun; recheck on a "
            f"quiet session before treating as a plan regression"
            if v.startswith("confirmed") else v
        )
        for name, v in adjudication.items()
    }


def _round_query_timings(
    sf: float | None = None,
) -> list[tuple[int, dict[str, float]]]:
    """(round, per-entry timings) for every parseable driver-recorded
    BENCH_r{N}.json, newest first. Missing or unparseable artifacts
    (round 1, a lost tail capture) are skipped; when ``sf`` is given,
    artifacts recorded at a different scale factor are skipped too —
    an sf0.01 smoke run must not be adjudicated against sf0.1 history."""
    import glob

    out: list[tuple[int, dict[str, float]]] = []
    for path in glob.glob(os.path.join(_HERE, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", path)
        if not m:
            continue
        try:
            with open(path, encoding="utf-8") as fh:
                data = json.load(fh)
        except (OSError, json.JSONDecodeError, ValueError):
            continue
        parsed = data.get("parsed") or {}
        if sf is not None and parsed.get("sf") != sf:
            continue
        q = parsed.get("queries") or {}
        if q:
            out.append((int(m.group(1)), q))
    out.sort(key=lambda t: -t[0])
    return out


def _baseline_timings(sf: float | None = None) -> tuple[dict[str, float], list[int]]:
    """Per-entry regression baseline: each entry's MIN over the last
    N_BASELINE_ROUNDS parseable driver artifacts AT THE SAME scale
    factor (see N_BASELINE_ROUNDS for why min-of-recent, not
    previous-round). Returns ({}, []) when no artifact qualifies — the
    probe policy then degrades to the absolute 3 s threshold only."""
    history = _round_query_timings(sf)[:N_BASELINE_ROUNDS]
    base: dict[str, float] = {}
    for _, q in history:
        for name, sec in q.items():
            if isinstance(sec, (int, float)):
                base[name] = min(base.get(name, float("inf")), float(sec))
    return base, [n for n, _ in history]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0

    spark = get_spark(app_name="globallinks_bench")

    # codegen warmup at the smallest SF (see module docstring); falls back
    # to the target dir if the warmup dataset is absent
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    for name, spec in REGISTRY.items():
        try:
            _materialize(spec.fn(spark, warm_dir))
        except Exception as exc:  # never let warmup sink the bench
            print(f"# warmup {name} failed: {exc}", file=sys.stderr)
    # drop every cached frame the warmup runs left behind — leftover
    # storage blocks evict/thrash the timed runs' own persists
    spark.catalog.clearCache()

    # host-speed stamp for the QUERY loop (the extract phase carries its
    # own): round 6 watched identical code swing 3.0 → 15.4 s on one
    # entry across bench runs hours apart — a sustained slow host
    # window min-of-3 cannot defeat. The stamp makes such windows
    # self-identifying in the artifact instead of reading as plan
    # regressions.
    host_at_start = None
    try:
        from bench_extract import host_calibration

        host_at_start = host_calibration(spark)
        print(f"# host calibration at query-loop start: "
              f"{host_at_start}", file=sys.stderr)
    except Exception as exc:
        print(f"# host calibration failed: {exc}", file=sys.stderr)

    # min-of-2 timed runs per query, escalating to min-of-3 when the
    # best-of-2 exceeds 3 s: local-mode scheduling noise (task placement,
    # broadcast build timing, background host load) makes single runs of
    # the join-heavy queries vary up to 2× — round 5 saw 60% swings on
    # heavy suites between identical-code runs — and the extra repetition
    # is cheap exactly where the variance is costly. The minimum is the
    # reproducible cost of the plan. clearCache between runs — no
    # cross-run or cross-query cache reuse inflates any number. Per-run
    # times land in BENCH_DETAIL.json's `runs_sec` and the max/min ratio
    # in `spread`, so cross-round comparisons can see the noise floor.
    def _light_host_probe() -> float:
        """One 8-core strhash pass (~1.7 s quiet in this warm JVM —
        PINNED_8CORE_STRHASH_WARM_SEC) — the per-entry co-tenancy stamp
        (r7 verdict #6): any entry whose best-of-N exceeds 3 s gets its
        own host-window evidence next to its samples, so a cross-round
        delta on that entry is readable without forensics. Codegen is
        warm after host_at_start, so this times the host, not the
        compiler — which is also why it divides by the WARM pin."""
        t0 = time.perf_counter()
        spark.range(160_000_000, numPartitions=8).selectExpr(
            "bit_xor(xxhash64(cast(id as string))) as s"
        ).collect()
        return round(time.perf_counter() - t0, 3)

    timings: dict[str, float] = {}
    rows: dict[str, int] = {}
    runs_sec: dict[str, list[float]] = {}
    spread: dict[str, float] = {}
    host_probe: dict[str, float] = {}
    io_probe: dict[str, float] = {}
    probe_trigger: dict[str, str] = {}
    adjudication: dict[str, str] = {}
    adjudication_rerun: dict[str, float] = {}
    # r12 verdict #1: per-entry adjudication is budgeted — on a loaded
    # host MORE entries trip the 1.3x wire and each probe runs SLOWER, a
    # feedback loop that inflates the run exactly when the window is
    # scarce (both r12 driver runs died this way). Once the session has
    # spent ADJUDICATION_BUDGET_SEC of wall in probes/reruns or probed
    # ADJUDICATION_MAX_STAMPS entries, further triggered entries are
    # stamped "budget-clipped" instead of probed — under a sustained
    # window every additional stamp says the same thing.
    adjudication_spent = 0.0
    baseline, baseline_rounds = _baseline_timings(sf)
    for name, spec in REGISTRY.items():
        samples: list[float] = []
        while True:
            # GC hint OUTSIDE the timing window: 50 queries of dead
            # broadcast/cache blocks otherwise pile into the old gen and
            # their collection lands inside whichever later query runs
            # next (measured: the same query 1.8 s isolated, 5.8 s at
            # position ~74 of a run without this)
            spark.sparkContext._jvm.System.gc()
            t0 = time.perf_counter()
            _materialize(spec.fn(spark, sf_dir))
            samples.append(time.perf_counter() - t0)
            spark.catalog.clearCache()
            if len(samples) >= 3 or (len(samples) == 2 and min(samples) <= 3.0):
                break
        timings[name] = round(min(samples), 3)
        runs_sec[name] = [round(s, 3) for s in samples]
        spread[name] = round(max(samples) / min(samples), 2)
        # probe policy: absolute (>3 s) OR regression-triggered — any
        # entry whose best-of-N exceeds REGRESSION_PROBE_RATIO × its
        # min-of-last-N-rounds baseline stamps a probe regardless of
        # magnitude, so cross-round deltas are self-diagnosing at every
        # size (r8 verdict #1b; drift baseline per r9 verdict #4)
        reason = _probe_reason(timings[name], baseline.get(name))
        verdict = None
        changed = None
        if reason is not None:
            probe_trigger[name] = reason
            changed = _active_changed_note(name, baseline_rounds)
        if reason is not None and changed:
            # composition-changed entries need no probe evidence — the
            # stamp is "expected" regardless (saves adjudication budget)
            verdict = _adjudicate(timings[name], baseline.get(name),
                                  None, None, changed)
        elif reason is not None and (
                adjudication_spent > ADJUDICATION_BUDGET_SEC
                or len(host_probe) >= ADJUDICATION_MAX_STAMPS):
            verdict = (
                f"budget-clipped — adjudication budget exhausted "
                f"({len(host_probe)} entries probed, "
                f"{adjudication_spent:.0f}s spent); probes skipped for "
                f"this entry ({reason}); investigate on a quiet session"
            )
        elif reason is not None:
            _t_adj = time.perf_counter()
            try:
                host_probe[name] = _light_host_probe()
            except Exception as exc:
                print(f"# host probe for {name} failed: {exc}",
                      file=sys.stderr)
            # r10 verdict #1: a probe-quiet regression gets ONE same-
            # session re-run. ADVICE r11 (bench.py:684): the re-run is
            # captured BEFORE the io probe — the probe's ~278 MB parquet
            # scan+write churns the page cache and disk queue exactly
            # where the rerun is about to read, biasing IO-sensitive
            # entries toward "confirmed" (the opposite of the rerun's
            # purpose). The cpu strhash probe above touches no disk, so
            # a provisional cpu-only adjudication decides whether the
            # rerun is needed; the io probe still feeds the FINAL
            # verdict below. Stamp-only: the recorded timing keeps the
            # original samples (see _rerun_adjudicate).
            provisional = _adjudicate(
                timings[name], baseline.get(name),
                host_probe.get(name), None, changed,
            )
            if provisional is not None \
                    and provisional.startswith("unexplained") \
                    and baseline.get(name):
                try:
                    spark.sparkContext._jvm.System.gc()
                    t0 = time.perf_counter()
                    _materialize(spec.fn(spark, sf_dir))
                    rerun = time.perf_counter() - t0
                    spark.catalog.clearCache()
                    adjudication_rerun[name] = round(rerun, 3)
                except Exception as exc:
                    print(f"# adjudication rerun for {name} failed: {exc}",
                          file=sys.stderr)
            # r10 verdict #2: the I/O-shaped probe rides beside the CPU
            # one — the strhash probe is measured blind to the
            # I/O/scheduler windows that caused 4 of 5 r10 stamps
            try:
                from bench_extract import parquet_io_probe

                io_probe[name] = parquet_io_probe(spark)
            except Exception as exc:
                print(f"# io probe for {name} failed: {exc}",
                      file=sys.stderr)
            # r9 verdict #3: the host-window verdict is stamped in the
            # artifact instead of living in a human dividing two numbers
            verdict = _adjudicate(timings[name], baseline.get(name),
                                  host_probe.get(name), io_probe.get(name),
                                  changed)
            if verdict is not None and verdict.startswith("unexplained") \
                    and name in adjudication_rerun:
                verdict = _rerun_adjudicate(
                    timings[name], baseline[name],
                    adjudication_rerun[name])
            adjudication_spent += time.perf_counter() - _t_adj
        if verdict is not None:
            adjudication[name] = verdict
        print(
            f"# {name}: {timings[name]:.3f}s (runs {runs_sec[name]}"
            + (f"; probe {host_probe[name]}s" if name in host_probe else "")
            + ")",
            file=sys.stderr,
        )

    total = round(sum(timings.values()), 3)

    # ----- THE CONTRACT LINE, printed BEFORE any diagnostics (r12
    # verdict #1): both r12 driver runs timed out inside the
    # extract/adjudication diagnostics AFTER every query had finished,
    # and the round lost its ground truth because this line used to
    # print last. A late kill must never erase the headline. A run that
    # completes re-prints the same line as the final stdout line,
    # enriched with the extract figures — both prints carry identical
    # query timings, so whichever one a parser reads (first or last
    # JSON line) satisfies the contract.
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "detail": "BENCH_DETAIL.json",
    }
    print(json.dumps(out), flush=True)

    # everything below is diagnostics: budget-bounded, and a failure in
    # any of it must never take the contract line with it
    diag_t0 = time.monotonic()
    diag_notes: list[str] = []

    # row counts (sidecar-only; moved AFTER the contract line in r13 —
    # 50 extra count() actions were on the pre-headline critical path)
    for name, spec in REGISTRY.items():
        if time.monotonic() - diag_t0 > ROWS_BUDGET_SEC:
            diag_notes.append(
                f"rows pass budget-clipped after {len(rows)} of "
                f"{len(REGISTRY)} entries ({ROWS_BUDGET_SEC}s)"
            )
            break
        try:
            rows[name] = spec.fn(spark, sf_dir).count()
        except Exception as exc:
            print(f"# rows count for {name} failed: {exc}", file=sys.stderr)

    # extraction throughput — the one metric BASELINE.md states a
    # directly comparable number for (~300k pages/min/thread parse-only;
    # ours covers extract+classify). SPARK_GRAFT_EXTRACT=0 skips it.
    #
    # Two measurements, both recorded:
    #   fresh-JVM (headline): bench_extract.py in a subprocess — the
    #     number comparable to the reference's fresh-process claim.
    #     Three consecutive driver rounds showed the in-bench figure
    #     decaying 2×+ after the ~4,000-stage catalog (even with the
    #     512 MB code cache), so the gate is decided by the isolated run.
    #   in-bench (secondary): same kernel inside THIS JVM after the
    #     catalog — documents the long-lived-process decay explicitly.
    extract = None
    extract_in_bench = None
    if os.environ.get("SPARK_GRAFT_EXTRACT", "1") != "0":
        try:
            from bench_extract import measure_extract

            # fixed 8-file shape: per-core normalization needs tasks big
            # enough that per-task overhead amortizes (32 × 3k-page files
            # under-report by ~5×); 8 × 12.5k pages matches the
            # bench_extract.py CLI methodology in README. Dividing by 8
            # is exact whenever the session has ≥8 threads (gzip is
            # unsplittable, so exactly 8 tasks run); with fewer threads
            # the 8 tasks timeshare and the figure UNDER-reports —
            # conservative, never inflated.
            extract_in_bench = measure_extract(spark, n_pages=100_000,
                                               cores=8)
        except Exception as exc:
            print(f"# in-bench extract failed: {exc}", file=sys.stderr)
        extract = _fresh_jvm_extract(n_pages=100_000, cores=8,
                                     fallback=extract_in_bench)

    # member-level attribution for the folded suite entries —
    # SPARK_GRAFT_MEMBER_DETAIL=1 times each underlying FULL_REGISTRY
    # query separately (adds ~1-2 min; off by default so the driver's
    # run stays inside its window)
    members: dict[str, dict[str, float]] = {}
    if os.environ.get("SPARK_GRAFT_MEMBER_DETAIL", "0") == "1":
        from globallinks_spark.queries import FULL_REGISTRY
        from globallinks_spark.queries_suites import suite_members

        for suite, names in suite_members().items():
            members[suite] = {}
            for m in names:
                best = float("inf")
                for _ in range(2):
                    spark.sparkContext._jvm.System.gc()
                    t0 = time.perf_counter()
                    _materialize(FULL_REGISTRY[m].fn(spark, sf_dir))
                    best = min(best, time.perf_counter() - t0)
                    spark.catalog.clearCache()
                members[suite][m] = round(best, 3)

    # ----- pin lifecycle self-check (r11 verdict #1): the session's
    # QUIETEST reading per probe class vs its pin — a quiet minimum
    # outside the band means the HOST changed (migration, hardware),
    # and every probe-ratio verdict this session divided by a wrong
    # denominator. Readings pool every capture: the query-loop start
    # stamp, each per-entry probe, and the fresh-JVM extract runs.
    warm_cpu: list[float | None] = list(host_probe.values())
    fresh_cpu: list[float | None] = []
    io_readings: list[float | None] = list(io_probe.values())
    if host_at_start:
        warm_cpu.append(host_at_start.get("jvm_8core_160M_strhash_sec"))
        io_readings.append(host_at_start.get("parquet_io_probe_sec"))
    if extract is not None and not extract.get("fallback_in_bench"):
        fresh_cpu.extend(extract.get("runs_8core_strhash_sec") or [])
        io_readings.extend(extract.get("runs_io_probe_sec") or [])
    pin_checks = [
        c for c in (
            _pin_staleness("strhash_8core_warm",
                           PINNED_8CORE_STRHASH_WARM_SEC, warm_cpu),
            _pin_staleness("strhash_8core_fresh",
                           PINNED_8CORE_STRHASH_SEC, fresh_cpu),
            _pin_staleness("io_probe", PINNED_IO_PROBE_SEC, io_readings),
        ) if c is not None
    ]
    adjudication_final = _apply_pin_staleness(
        _contextualize_confirmed(adjudication), pin_checks,
    )

    # ----- confirmed-stamp ledger (r11 verdict #2): settle prior
    # rounds' open confirmations against this session, append new ones
    this_round = _this_round()
    ledger = _settle_ledger(_load_ledger(), this_round, timings,
                            baseline, adjudication_final)
    try:
        with open(LEDGER_PATH, "w", encoding="utf-8") as fh:
            json.dump(ledger, fh, indent=1)
    except OSError as exc:
        print(f"# ledger write failed: {exc}", file=sys.stderr)

    detail = {
        "sf": sf,
        "sf_dir": sf_dir,
        "host_at_start": host_at_start,
        "n_queries": len(timings),
        "total_sec": total,
        "queries_sec": timings,
        "rows": rows,
        "runs_sec": runs_sec,
        "spread": spread,
        "host_probe_8core_sec": host_probe,
        "host_probe_io_sec": io_probe,
        "host_probe_trigger": probe_trigger,
        "host_probe_baseline_sec": {
            n: baseline[n] for n in probe_trigger if n in baseline
        },
        "baseline_rounds": baseline_rounds,
        "adjudication": adjudication_final,
        "adjudication_rerun_sec": adjudication_rerun,
        "adjudication_budget": {
            "spent_sec": round(adjudication_spent, 3),
            "budget_sec": ADJUDICATION_BUDGET_SEC,
            "max_stamps": ADJUDICATION_MAX_STAMPS,
            "entries_probed": len(host_probe),
        },
        "diagnostics_notes": diag_notes,
        "contract_order": (
            "r13 (r12 verdict #1): the one-line headline JSON prints "
            "IMMEDIATELY after the query loop, BEFORE rows counting, "
            "extract runs and this sidecar; a completed run re-prints "
            "the identical line enriched with the extract fields as the "
            "final stdout line"
        ),
        "pin_provenance": PIN_PROVENANCE,
        "pin_staleness": pin_checks,
        "confirmed_ledger": ledger,
        "host_probe_policy": "one 8-core strhash pass PLUS one parquet "
                             "scan+write io probe (min-of-3, pinned "
                             f"{PINNED_IO_PROBE_SEC} s / window band "
                             f"{IO_PROBE_WINDOW_RATIO}x) after any entry "
                             "whose best-of-N exceeds 3 s OR exceeds "
                             f"{REGRESSION_PROBE_RATIO}x its min-of-last-"
                             f"{N_BASELINE_ROUNDS}-rounds driver baseline "
                             "(warm strhash compared to pinned warm "
                             f"{PINNED_8CORE_STRHASH_WARM_SEC} s — see "
                             "pin_provenance); every regressed entry "
                             "carries an 'adjudication' stamp: expected "
                             "(composition changed) / host-window (a "
                             "probe also slow) / transient (probes quiet "
                             "but a same-session rerun — captured BEFORE "
                             "the io probe's cache churn, ADVICE r11 — "
                             "landed back in band) / confirmed (rerun "
                             "still out of band — opens a ledger item, "
                             "see confirmed_ledger)",
        "warmup": f"each query once at {warm_dir} (codegen steady-state)",
        "timing": "min of 2 isolated runs, escalated to min of 3 when "
                  "best-of-2 > 3 s (cache cleared between); per-run "
                  "samples in runs_sec, max/min ratio in spread",
        "registry": "driver REGISTRY (50 consolidated entries; see "
                    "queries_suites.py for the suite → operator fold)",
    }
    if members:
        detail["suite_members_sec"] = members
    if extract is not None:
        detail["extract"] = dict(
            extract,
            measurement=(
                "in-bench (fresh-JVM launch failed)"
                if extract.get("fallback_in_bench")
                else "fresh-JVM subprocess (bench_extract.py)"
            ),
        )
    if extract_in_bench is not None:
        detail["extract_in_bench"] = extract_in_bench
    try:
        with open(DETAIL_PATH, "w", encoding="utf-8") as fh:
            json.dump(detail, fh, indent=1)
    except OSError as exc:
        print(f"# sidecar write failed: {exc}", file=sys.stderr)

    # enrich the already-printed contract line with the extract figures
    # and re-print it as the final stdout line — identical query
    # timings, so either print satisfies the driver contract
    if extract is not None:
        out["extract_pages_per_min_per_core"] = extract["value"]
        if "value_raw_median" in extract:
            # the gate figure (raw median; calibration is diagnostic)
            out["extract_raw_median_pages_per_min_per_core"] = (
                extract["value_raw_median"]
            )
        if "value_calibrated_median" in extract:
            out["extract_calibrated_median_pages_per_min_per_core"] = (
                extract["value_calibrated_median"]
            )
        if extract.get("fallback_in_bench"):
            # ADVICE r6: a failed fresh-JVM launch must be visible in
            # the one-line output, not only in the sidecar — otherwise
            # a fallback round reads as a fresh-JVM measurement.
            # ADVICE r7: the fallback's calibrated value rides its own
            # field name, never value_calibrated_median's.
            out["extract_measurement"] = "in-bench-fallback"
            if "value_calibrated_fallback" in extract:
                out["extract_calibrated_fallback_pages_per_min_per_core"] = (
                    extract["value_calibrated_fallback"]
                )
        else:
            out["extract_runs_pages_per_min_per_core"] = extract.get(
                "runs_pages_per_min_per_core"
            )
    if extract_in_bench is not None:
        out["extract_in_bench_pages_per_min_per_core"] = (
            extract_in_bench["value"]
        )
    print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
