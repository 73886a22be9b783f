"""The driver records bench.py's single stdout JSON line with a
bounded tail capture — round 3's 84-entry inline form overflowed it
and the round lost its headline artifact (`BENCH_r03.json` parsed:
null). Pin the line's shape without running Spark: build the same
`out` dict main() prints, with worst-case float widths for every
registry entry, and assert it stays one parseable line comfortably
under the observed capture bound."""

from __future__ import annotations

import json

from globallinks_spark.queries import REGISTRY


def test_bench_line_fits_driver_capture():
    out = {
        "metric": "headline_queries_total",
        "value": 9999.999,
        "unit": "sec",
        # worst-case width: every timing printed at full rounding
        "queries": {name: 999.999 for name in REGISTRY},
        "sf": 0.1,
        "detail": "BENCH_DETAIL.json",
        "extract_pages_per_min_per_core": 999999,
        "extract_raw_median_pages_per_min_per_core": 999999,
        "extract_calibrated_median_pages_per_min_per_core": 999999,
        "extract_runs_pages_per_min_per_core": [999999] * 5,
        "extract_in_bench_pages_per_min_per_core": 999999,
    }
    line = json.dumps(out)
    assert "\n" not in line
    assert json.loads(line)["queries"]  # round-trips
    # r02's ~1.5k-char 48-entry line parsed; r03's ~2.6k-char 84-entry
    # line did not. Stay under 2,000 with margin.
    assert len(line) < 2000, f"bench line grew to {len(line)} chars"


def test_extract_policy_fixed_runs_and_calibrated_median(monkeypatch):
    """r6 verdict #1 + ADVICE: the fresh-JVM policy is a FIXED run
    count (no resample-until-fast bias) and the headline carries a
    host-calibrated median — raw × (run probe / pinned probe), median
    over runs — alongside the best-of-N raw value."""
    import bench

    # five runs whose raw values are perfectly explained by host-window
    # speed (probe time doubles → raw halves): calibration must map all
    # of them onto the same pinned-host value
    pin = bench.PINNED_8CORE_STRHASH_SEC
    raws = [300_000, 150_000, 100_000, 200_000, 75_000]
    probes = [pin, 2 * pin, 3 * pin, 1.5 * pin, 4 * pin]
    runs = iter([
        {"value": v, "extract_sec": 1.0,
         "host": {"jvm_8core_160M_strhash_sec": p}}
        for v, p in zip(raws, probes)
    ])
    calls = []
    monkeypatch.setattr(
        bench, "_fresh_jvm_extract_once",
        lambda n, c: calls.append(1) or next(runs),
    )
    got = bench._fresh_jvm_extract(n_pages=1000, cores=8)
    assert len(calls) == bench.EXTRACT_RUNS == 5
    assert got["value"] == 300_000  # best-of-N raw kept
    assert got["runs_pages_per_min_per_core"] == raws
    assert got["runs_calibrated_pages_per_min_per_core"] == [300_000] * 5
    assert got["value_calibrated_median"] == 300_000
    assert got["calibration_capped"] is False
    # r8 verdict #3a: THE GATE FIGURE is the raw median — calibration
    # is a diagnostic (its probe measured r=0.18 against extract noise).
    # r10 verdict #3 + ADVICE r11: the outlier filter anchors on the
    # sample MEDIAN (150k here) — nothing in this sample sits more than
    # 2x below it (75k * 2 == 150k is the boundary, kept), so the gate
    # reads the plain median. (Under the old max anchor, 100k and 75k
    # would have been dropped and the gate inflated to 200k.)
    assert got["value_raw_median"] == 150_000
    assert got["value_raw_median_unfiltered"] == 150_000
    assert got["runs_dropped_as_outliers"] == []
    assert "value_raw_median" in got["gate_policy"]
    assert "outlier" in got["gate_policy"]


def _mock_runs(monkeypatch, values):
    """Feed _fresh_jvm_extract a fixed raw-rate sample (None = a failed
    launch) with flat probes."""
    import bench

    runs = iter([
        None if v is None else
        {"value": v, "extract_sec": 1.0,
         "host": {"jvm_8core_160M_strhash_sec":
                  bench.PINNED_8CORE_STRHASH_SEC}}
        for v in values
    ])
    monkeypatch.setattr(bench, "_fresh_jvm_extract_once",
                        lambda n, c: next(runs))


def test_outlier_filter_median_anchor(monkeypatch):
    """ADVICE r11 (medium): the drop rule anchors on the sample MEDIAN.
    A single anomalously fast run (the max-anchor failure mode) must
    not drop every other run and crown itself the gate median; the r10
    host-window shape (one run 3.4x below its neighbors) must still be
    dropped; and when fewer than MIN_KEPT_RUNS would survive, the
    filter refuses and the unfiltered median rules."""
    import bench

    # ADVICE's adversarial sample: one run 2x faster than the other
    # four. Max anchor would drop ALL the 100k runs (gate -> 201k);
    # median anchor drops nothing.
    _mock_runs(monkeypatch, [100_000, 100_000, 100_000, 100_000, 201_000])
    got = bench._fresh_jvm_extract(n_pages=1000, cores=8)
    assert got["runs_dropped_as_outliers"] == []
    assert got["value_raw_median"] == 100_000

    # the r10 window shape: one run far below its neighbors is dropped
    _mock_runs(monkeypatch, [260_000, 265_000, 270_000, 77_000, 250_000])
    got = bench._fresh_jvm_extract(n_pages=1000, cores=8)
    assert got["runs_dropped_as_outliers"] == [77_000]
    assert got["value_raw_median"] == 262_500
    assert got["value_raw_median_unfiltered"] == 260_000

    # refusal: only two launches succeeded and the filter would leave
    # one run — fall back to the unfiltered median, say so
    _mock_runs(monkeypatch, [320_000, None, None, None, 100_000])
    got = bench._fresh_jvm_extract(n_pages=1000, cores=8)
    assert bench.MIN_KEPT_RUNS == 3
    assert got["runs_dropped_as_outliers"] == []
    assert got["value_raw_median"] == 210_000
    assert "REFUSED" in got["outlier_rule"]


def test_calibrated_median_capped_at_best_raw(monkeypatch):
    """ADVICE r7 (medium): the strhash probe is pure CPU while the
    extract kernel has I/O/GC components — a host slow for non-CPU
    reasons makes raw × (probe/pin) exceed any rate actually measured.
    The gate figure must be min(calibrated median, best raw in the
    sample): calibration cancels noise, it never manufactures
    throughput."""
    import bench

    pin = bench.PINNED_8CORE_STRHASH_SEC
    # probes 3× slower than the pin but raws only 1.2× slower than the
    # 250k 'true' rate — the CPU probe over-states the slowdown (e.g.
    # the window hit CPU but the extract was I/O-bound meanwhile), so
    # uncapped calibration would claim 625k, above anything measured
    raws = [208_000, 209_000, 210_000, 208_500, 209_500]
    probes = [3 * pin] * 5
    runs = iter([
        {"value": v, "extract_sec": 5.0,
         "host": {"jvm_8core_160M_strhash_sec": p}}
        for v, p in zip(raws, probes)
    ])
    monkeypatch.setattr(
        bench, "_fresh_jvm_extract_once", lambda n, c: next(runs)
    )
    got = bench._fresh_jvm_extract(n_pages=1000, cores=8)
    assert got["value_calibrated_median_uncapped"] == 627_000
    assert got["value_calibrated_median"] == 210_000  # best raw measured
    assert got["calibration_capped"] is True
    assert got["calibration_cap_raw_best"] == 210_000


def test_probe_extract_correlation_recorded(monkeypatch):
    """The calibration's linearity assumption (slower probe ⇒
    proportionally slower extract) is recorded as a per-sample Pearson
    r, so a round where the probe and the kernel disagree about the
    host window is self-diagnosing in the artifact."""
    import bench

    pin = bench.PINNED_8CORE_STRHASH_SEC
    probes = [pin, 2 * pin, 3 * pin, 1.5 * pin, 4 * pin]
    # extract_sec exactly proportional to the probe → r = 1.0
    runs = iter([
        {"value": round(100_000 / (p / pin)), "extract_sec": 2.0 * p / pin,
         "host": {"jvm_8core_160M_strhash_sec": p}}
        for p in probes
    ])
    monkeypatch.setattr(
        bench, "_fresh_jvm_extract_once", lambda n, c: next(runs)
    )
    got = bench._fresh_jvm_extract(n_pages=1000, cores=8)
    assert got["probe_extract_sec_pearson_r"] == 1.0
    assert got["runs_extract_sec"] == [2.0 * p / pin for p in probes]


def test_diagnostics_budgets():
    """r12 verdict #1: both driver bench runs timed out (rc 124) inside
    the diagnostics AFTER all 50 queries finished — the 900 s
    fresh-JVM subprocess timeout and the unbounded per-entry
    adjudication ate the window. Every diagnostic is now wall-budgeted,
    with each budget several times its quiet-host cost (one fresh-JVM
    run ≈ 35 s quiet, one probe set ≈ 6-10 s, the rows pass ≈ 30 s), so
    a quiet run never clips and a loaded run degrades to fewer samples
    instead of a dead round."""
    import bench

    assert bench.EXTRACT_SUBPROC_TIMEOUT_SEC == 180
    assert bench.EXTRACT_SECTION_BUDGET_SEC == 360
    assert bench.ADJUDICATION_BUDGET_SEC == 240
    assert bench.ADJUDICATION_MAX_STAMPS == 8
    assert bench.ROWS_BUDGET_SEC == 120
    # the per-subprocess timeout is the function's default
    import inspect

    sig = inspect.signature(bench._fresh_jvm_extract_once)
    assert sig.parameters["timeout_sec"].default == \
        bench.EXTRACT_SUBPROC_TIMEOUT_SEC


def test_extract_section_budget_clips_remaining_runs(monkeypatch):
    """Once the fresh-JVM extract section has spent its wall budget,
    the remaining launches are skipped and the clipping is recorded in
    the artifact; the gate median reads the runs actually taken."""
    import bench

    _mock_runs(monkeypatch, [100_000] * 5)
    ticks = iter([0.0, 200.0, 400.0, 600.0, 800.0, 1000.0])
    got = bench._fresh_jvm_extract(
        n_pages=1000, cores=8, budget_sec=360.0, _clock=lambda: next(ticks)
    )
    # t_section=0; run 0 unconditional; before run 1 clock=200 (ok);
    # before run 2 clock=400 > 360 → clipped
    assert got["runs_pages_per_min_per_core"] == [100_000, 100_000]
    assert got["runs_budget_clipped"] == 3
    assert "budget" in got["runs_budget_note"]
    # an unclipped session records no clipping fields
    _mock_runs(monkeypatch, [100_000] * 5)
    got = bench._fresh_jvm_extract(n_pages=1000, cores=8)
    assert "runs_budget_clipped" not in got


def test_contract_line_prints_before_diagnostics():
    """r12 verdict #1 pin: main() prints the headline JSON immediately
    after the query loop — before the rows pass, the extract gate and
    the sidecar write — and re-prints the enriched line as the final
    statement, so a mid-diagnostics kill can never erase the headline."""
    import inspect

    import bench

    src = inspect.getsource(bench.main)
    early = src.index("print(json.dumps(out), flush=True)")
    assert early < src.index("rows[name] = spec.fn")
    assert early < src.index("_fresh_jvm_extract(")
    assert early < src.index("json.dump(detail")
    # the enriched re-print is the last stdout print in main()
    final = src.rindex("print(json.dumps(out), flush=True)")
    assert final > src.index("json.dump(detail")


def test_adjudication_budget_clip_stamp_shape():
    """The budget-clipped stamp must not masquerade as any of the
    verdict classes downstream machinery keys on: it must not enter the
    ledger (confirmed*), count as window evidence (host-window/
    transient*), or draw the stale-pin annotation (host-window/
    unexplained*)."""
    import bench

    stamp = ("budget-clipped — adjudication budget exhausted (8 entries "
             "probed, 241s spent); probes skipped for this entry "
             "(abs>3s); investigate on a quiet session")
    # never enters the ledger
    out = bench._settle_ledger({"open": [], "closed": []}, 13,
                               {"e": 2.0}, {"e": 1.0}, {"e": stamp})
    assert out["open"] == [] and out["closed"] == []
    # not window evidence for _contextualize_confirmed
    adj = {"e": stamp, "d": "confirmed — rerun 3.0s still 2x baseline; "
                            "investigate"}
    assert bench._contextualize_confirmed(adj) == adj
    # not annotated by a stale pin
    stale = bench._pin_staleness("io_probe", 2.25, [1.42])
    assert bench._apply_pin_staleness({"e": stamp}, [stale]) == {"e": stamp}


def test_registry_stays_at_fifty():
    # adding a 51st entry silently drops one from the driver's
    # correctness suite AND lengthens the bench line — both gates live
    # here and in tests/test_suites.py
    assert len(REGISTRY) == 50


def test_fallback_extract_keeps_calibrated_field_and_flag():
    """A round where every fresh-JVM launch fails must (a) flag the
    substitution (ADVICE r6) and (b) carry its calibrated value under
    a DISTINCT field name (ADVICE r7): value_calibrated_median
    promises a median of fresh-JVM runs, so a single warm in-bench run
    must never appear under it."""
    import bench

    in_bench = {
        "value": 200_000,
        # r12: the in-bench probe runs in the WARM long-lived JVM, so
        # the fallback calibration divides by the WARM pin
        "host": {"jvm_8core_160M_strhash_sec":
                 2 * bench.PINNED_8CORE_STRHASH_WARM_SEC},
    }
    got = bench._fallback_extract(in_bench)
    assert got["fallback_in_bench"] is True
    assert got["value_calibrated_fallback"] == 400_000
    assert got["pinned_probe_sec"] == bench.PINNED_8CORE_STRHASH_WARM_SEC
    assert "value_calibrated_median" not in got
    assert "value" not in in_bench or "fallback_in_bench" not in in_bench


def test_fallback_extract_when_every_fresh_jvm_run_is_clipped(monkeypatch):
    """The first launch fails and the section budget clips the other
    four: the in-bench fallback stands in, and it still carries the
    README-cited run list (empty) with the clip count."""
    import bench

    monkeypatch.setattr(bench, "_fresh_jvm_extract_once",
                        lambda n, c, timeout_sec=900: None)
    ticks = iter([0.0, 400.0])
    in_bench = {"value": 200_000, "host": {}}
    got = bench._fresh_jvm_extract(
        n_pages=1000, cores=8, budget_sec=360.0,
        _clock=lambda: next(ticks), fallback=in_bench,
    )
    assert got["fallback_in_bench"] is True
    assert got["value"] == 200_000
    assert got["runs_pages_per_min_per_core"] == []
    assert got["runs_budget_clipped"] == bench.EXTRACT_RUNS - 1
    # the plain fallback (nothing clipped) carries both fields too
    got = bench._fallback_extract(in_bench)
    assert got["runs_pages_per_min_per_core"] == []
    assert got["runs_budget_clipped"] == 0


def test_fresh_jvm_extract_returns_none_when_all_runs_fail(monkeypatch):
    import bench

    monkeypatch.setattr(bench, "_fresh_jvm_extract_once",
                        lambda n, c, timeout_sec=900: None)
    assert bench._fresh_jvm_extract(n_pages=1000, cores=8) is None


def test_regression_probe_policy():
    """r8 verdict #1b: a probe is stamped for ANY entry whose best-of-N
    exceeds 1.3× its driver baseline, regardless of absolute time — so
    cross-round deltas are self-diagnosing at every magnitude, not only
    above the 3 s absolute threshold (the gap that left four sub-3s
    dedup regressions unexplainable in r8). r9 verdict #4: the baseline
    is the entry's MIN over its last N_BASELINE_ROUNDS driver figures,
    not just the previous round — a ~1.26×/round drift that never trips
    the wire against its immediate predecessor accumulates against the
    recent-best anchor and trips on the second round."""
    import bench

    assert bench.REGRESSION_PROBE_RATIO == 1.3
    assert bench.N_BASELINE_ROUNDS == 3
    # absolute trigger, unchanged
    assert bench._probe_reason(3.5, None) == "abs>3s"
    assert bench._probe_reason(3.5, 3.4) == "abs>3s"
    # regression trigger below 3 s: 1.6 s vs baseline 1.0 s → probe
    assert "regression" in bench._probe_reason(1.6, 1.0)
    # inside the noise floor → no probe
    assert bench._probe_reason(1.2, 1.0) is None
    # first round / entry renamed: no baseline, small time → none
    assert bench._probe_reason(1.6, None) is None
    # r11: the wire has an absolute floor — sub-0.3 s entries live at
    # local-mode scheduling granularity (dataset_split drew stamps in
    # r10 AND r11 on 60-80 ms of jitter); a delta must exceed BOTH the
    # 1.3x ratio and REGRESSION_MIN_DELTA_SEC to trip, on the wire and
    # in both adjudication stages
    assert bench.REGRESSION_MIN_DELTA_SEC == 0.15
    assert bench._probe_reason(0.287, 0.21) is None
    assert bench._adjudicate(0.287, 0.21, None) is None
    assert bench._rerun_adjudicate(0.3, 0.21, 0.29).startswith("transient")
    # a real 2x regression on a tiny entry still clears the floor
    assert bench._probe_reason(0.42, 0.21) is not None
    # the drift case that motivated min-of-3: two consecutive 1.26×
    # rounds (1.0 → 1.26 → 1.588). vs the previous round 1.588/1.26 =
    # 1.26 < 1.3 would stay silent; vs the min-of-3 baseline (1.0) the
    # 1.59× delta trips.
    assert bench._probe_reason(1.588, 1.0) is not None


def test_adjudication_policy():
    """r9 verdict #3: every regressed entry gets an 'adjudication'
    stamp in BENCH_DETAIL.json so the host-window verdict no longer
    lives in a human dividing two numbers. Three outcomes: expected
    (composition changed this round), host-window (the in-run probe
    also ran > ratio × the pinned quiet figure), unexplained (the probe
    was quiet or missing while the entry regressed)."""
    import bench

    # r12: per-entry probes run in the WARM bench JVM, so _adjudicate
    # divides by the WARM strhash pin (the fresh pin under-detected
    # warm cpu windows by ~25% — see PINNED_8CORE_STRHASH_WARM_SEC)
    pin = bench.PINNED_8CORE_STRHASH_WARM_SEC
    io_pin = bench.PINNED_IO_PROBE_SEC
    # inside the noise band, or no baseline → nothing to adjudicate
    assert bench._adjudicate(1.2, 1.0, None) is None
    assert bench._adjudicate(5.0, None, None) is None
    # regressed + slow cpu probe → host-window, ratio in the stamp
    got = bench._adjudicate(1.6, 1.0, 1.7 * pin)
    assert got is not None and got.startswith("host-window")
    assert "1.70x" in got and "warm" in got
    # r10 verdict #2: quiet cpu probe but slow IO probe → host-window
    # too — the strhash probe is blind to I/O/scheduler windows (4 of 5
    # r10 stamps). The io band is IO_PROBE_WINDOW_RATIO (1.5, wider
    # than the 1.3 wire: quiet min-of-2 io trials spread to ~1.2x).
    assert bench.IO_PROBE_WINDOW_RATIO == 1.5
    got = bench._adjudicate(1.6, 1.0, 1.0 * pin, 1.8 * io_pin)
    assert got is not None and got.startswith("host-window")
    assert "io probe 1.80x" in got
    # io probe inside ITS band does not stamp a window
    got = bench._adjudicate(1.6, 1.0, 1.0 * pin, 1.4 * io_pin)
    assert got is not None and got.startswith("unexplained")
    assert "io 1.40x" in got
    # regressed + quiet probes → unexplained, flagged for investigation
    got = bench._adjudicate(1.6, 1.0, 1.0 * pin)
    assert got is not None and got.startswith("unexplained")
    # regressed + no probe captured → unexplained as well
    got = bench._adjudicate(1.6, 1.0, None, None)
    assert got is not None and got.startswith("unexplained")
    # composition changed this round → expected, regardless of probes
    got = bench._adjudicate(1.6, 1.0, 1.0 * pin,
                            changed_note="membership grew")
    assert got is not None and got.startswith("expected")
    # CHANGED_ENTRIES must only name current registry entries — a stale
    # note would silently excuse a real future regression
    from globallinks_spark.queries import REGISTRY

    assert set(bench.CHANGED_ENTRIES) <= set(REGISTRY)


def test_changed_entries_expire_with_baseline_window():
    """ADVICE r10: the 'listed through r12' expiry used to be a comment
    — now each CHANGED_ENTRIES value records its change round and
    _active_changed_note expires mechanically once every baseline round
    is post-change, so a stale note can never auto-excuse a real future
    regression."""
    import bench

    # every value is (change_round, note)
    for name, (change_round, note) in bench.CHANGED_ENTRIES.items():
        assert isinstance(change_round, int) and isinstance(note, str)
    name = next(iter(bench.CHANGED_ENTRIES))
    change_round = bench.CHANGED_ENTRIES[name][0]
    # a baseline window still containing pre-change rounds → active
    assert bench._active_changed_note(
        name, [change_round, change_round - 1, change_round - 2]
    ) is not None
    # baseline entirely post-change → expired (r10 change: active
    # through r12's [12, 11, 10] window, expired at r13's [12, 11, 10]
    # ... i.e. min >= change_round)
    assert bench._active_changed_note(
        name, [change_round + 2, change_round + 1, change_round]
    ) is None
    # unknown entries and empty history behave safely
    assert bench._active_changed_note("no_such_entry", [9, 8, 7]) is None
    assert bench._active_changed_note(name, []) is not None


def test_confirmed_context():
    """A 'confirmed' stamp is annotated when the same session carries
    widespread window evidence (>= SESSION_WINDOW_STAMPS sibling
    host-window/transient stamps): a window outlasting the session
    defeats the in-session rerun too, so such a confirmed verdict
    needs a quiet-session recheck. In a quiet session it stays clean —
    the strong signal."""
    import bench

    assert bench.SESSION_WINDOW_STAMPS == 3
    windowed = {
        "a": "host-window (cpu probe 1.84x pinned 2.203 s)",
        "b": "host-window (cpu probe 1.65x pinned 2.203 s)",
        "c": "transient — rerun 1.000s within 1.3x baseline band "
             "(first sample 1.500s)",
        "d": "confirmed — rerun 3.161s still 2.22x baseline; investigate",
        "e": "expected — composition changed: note",
    }
    got = bench._contextualize_confirmed(windowed)
    assert "NOTE: 3 sibling entries" in got["d"]
    assert got["a"] == windowed["a"] and got["e"] == windowed["e"]
    # quiet session: confirmed stays clean
    quiet = {"d": windowed["d"], "c": windowed["c"]}
    assert bench._contextualize_confirmed(quiet) == quiet


def test_rerun_adjudication_policy():
    """r10 verdict #1: an 'unexplained' stamp triggers ONE same-session
    re-run of the entry; back inside the REGRESSION_PROBE_RATIO band →
    'transient', still outside → 'confirmed'. The re-run never replaces
    the recorded timing (one-directional resampling is the r6 bias)."""
    import bench

    got = bench._rerun_adjudicate(1.6, 1.0, 1.1)
    assert got.startswith("transient")
    assert "1.100s" in got and "1.600s" in got
    # exactly on the band edge counts as within (same <= the wire uses)
    assert bench._rerun_adjudicate(1.6, 1.0, 1.3).startswith("transient")
    got = bench._rerun_adjudicate(1.6, 1.0, 1.55)
    assert got.startswith("confirmed")
    assert "1.55x" in got


def test_pin_lifecycle():
    """r11 verdict #1: the probe pins carry provenance (trial
    distribution, date, host) and a per-session stale-pin self-check —
    the session's QUIETEST reading per probe class must sit inside
    PIN_STALE_BAND of its pin, else the artifact is stamped
    'recalibrate' and every probe-ratio verdict annotated instead of
    being emitted from a wrong denominator."""
    import bench

    # every pin constant is covered by a provenance record whose
    # pinned_sec matches it, with a recorded trial distribution for the
    # r12-calibrated pins
    prov = bench.PIN_PROVENANCE
    assert prov["strhash_8core_fresh"]["pinned_sec"] == \
        bench.PINNED_8CORE_STRHASH_SEC
    assert prov["strhash_8core_warm"]["pinned_sec"] == \
        bench.PINNED_8CORE_STRHASH_WARM_SEC
    assert prov["io_probe"]["pinned_sec"] == bench.PINNED_IO_PROBE_SEC
    assert len(prov["strhash_8core_warm"]["trials_sec"]) >= 5
    assert len(prov["io_probe"]["trials_sec"]) >= 9
    # the warm pin is the median of its recorded trials (lifecycle:
    # the constant is derivable from its own provenance)
    import statistics

    assert bench.PINNED_8CORE_STRHASH_WARM_SEC == round(
        statistics.median(prov["strhash_8core_warm"]["trials_sec"]), 2)
    assert bench.PINNED_IO_PROBE_SEC == round(
        statistics.median(prov["io_probe"]["trials_sec"]), 2)

    # quiet minimum inside the band → pin current (even when OTHER
    # readings are slow — windows are the per-entry stamps' job)
    assert bench.PIN_STALE_BAND == (0.7, 1.3)
    c = bench._pin_staleness("io_probe", 1.5, [1.6, 4.0, None])
    assert c["verdict"] == "pin current"
    assert c["session_min_sec"] == 1.6 and c["n_readings"] == 2
    # quiet minimum far BELOW the pin → the host changed → stale
    # (exactly the r11→r12 io case: quiet 1.42 vs pinned 2.25)
    s = bench._pin_staleness("io_probe", 2.25, [1.42, 1.6])
    assert "stale" in s["verdict"] and "recalibrate" in s["verdict"]
    # far above → stale too
    assert "stale" in bench._pin_staleness("x", 1.0, [1.5])["verdict"]
    # no readings captured → nothing to check
    assert bench._pin_staleness("x", 1.5, [None]) is None
    assert bench._pin_staleness("x", 1.5, []) is None

    # annotation reaches exactly the probe-ratio stamps
    adj = {
        "a": "host-window (cpu probe 1.40x pinned warm 1.71 s)",
        "b": "transient — rerun 1.0s within band (first sample 1.5s)",
        "c": "unexplained — probes quiet (cpu 1.05x of pinned) while "
             "entry ran 1.4x baseline; investigate",
        "d": "expected — composition changed: note",
    }
    out = bench._apply_pin_staleness(adj, [s])
    assert "PINS STALE" in out["a"] and "PINS STALE" in out["c"]
    assert out["b"] == adj["b"] and out["d"] == adj["d"]
    # all pins current → stamps untouched
    assert bench._apply_pin_staleness(adj, [c]) == adj
    assert bench._apply_pin_staleness(adj, []) == adj


def test_confirmed_ledger():
    """r11 verdict #2: 'confirmed — investigate' stamps persist in
    BENCH_LEDGER.json and the NEXT bench run settles them — back inside
    the regression band closes the item ('cleared in rN'), still
    outside escalates it ('regression, N rounds'); fresh confirmed
    stamps open new items. The repo ledger must carry r11's three
    window-run confirmations (ann_ivf / counters / streaming_dedup)
    until a bench run settles them."""
    import json
    import os

    import bench

    # this bench run records as one past the highest BENCH_r{N}.json
    assert bench._this_round() >= 12

    ledger = {"open": [
        {"entry": "ann_ivf", "round": 11, "first_sec": 3.161,
         "status": "open"},
        {"entry": "renamed_away", "round": 11, "first_sec": 1.0,
         "status": "open"},
        {"entry": "still_bad", "round": 10, "first_sec": 2.0,
         "status": "open"},
    ], "closed": [{"entry": "old", "status": "cleared in r9"}]}
    timings = {"ann_ivf": 1.459, "still_bad": 2.1, "fresh_confirm": 0.9}
    baseline = {"ann_ivf": 1.421, "still_bad": 1.0, "fresh_confirm": 0.6}
    adjudication = {
        "fresh_confirm": "confirmed — rerun 0.9s still 1.5x baseline; "
                         "investigate",
        "other": "host-window (cpu probe 1.4x pinned warm 1.71 s)",
    }
    out = bench._settle_ledger(ledger, 12, timings, baseline, adjudication)
    closed = {i["entry"]: i for i in out["closed"]}
    opened = {i["entry"]: i for i in out["open"]}
    # back in band → closed with the figures that cleared it
    assert closed["ann_ivf"]["status"] == "cleared in r12"
    assert closed["ann_ivf"]["cleared_sec"] == 1.459
    # prior closed items are preserved
    assert closed["old"]["status"] == "cleared in r9"
    # not in this run's registry/baseline → carried, never dropped
    assert "carried" in opened["renamed_away"]["status"]
    # still outside the band → escalated with the open-round count
    assert opened["still_bad"]["status"].startswith("regression, 3 rounds")
    # fresh confirmed stamp → new open item at this round
    assert opened["fresh_confirm"]["round"] == 12
    assert opened["fresh_confirm"]["status"] == "open"
    # non-confirmed stamps never enter the ledger
    assert "other" not in opened and "other" not in closed

    # the committed repo ledger seeds r11's three open confirmations
    # (or their settled descendants once a bench run has run)
    with open(bench.LEDGER_PATH, encoding="utf-8") as fh:
        repo_ledger = json.load(fh)
    entries = {i["entry"] for i in
               repo_ledger.get("open", []) + repo_ledger.get("closed", [])}
    assert {"ann_ivf", "counters", "streaming_dedup"} <= entries
    assert os.path.basename(bench.LEDGER_PATH) == "BENCH_LEDGER.json"


def test_baseline_timings_takes_min_over_recent_rounds():
    """_baseline_timings must return each entry's MIN across the last
    N_BASELINE_ROUNDS parseable BENCH_r{N}.json artifacts. Runs on the
    real repo artifacts (r07..r09 at the time of writing)."""
    import bench

    base, rounds = bench._baseline_timings(0.1)
    history = bench._round_query_timings(0.1)
    # the sf filter must drop differently-scaled artifacts entirely
    assert bench._baseline_timings(0.5) == ({}, [])
    assert rounds == [n for n, _ in history[: bench.N_BASELINE_ROUNDS]]
    assert len(rounds) == min(bench.N_BASELINE_ROUNDS, len(history))
    assert sorted(rounds, reverse=True) == rounds
    assert "dedup_minhash_lsh" in base
    # spot-check the min: recompute for one entry from the raw history
    recent = [q["dedup_minhash_lsh"] for _, q in
              history[: bench.N_BASELINE_ROUNDS]
              if "dedup_minhash_lsh" in q]
    assert base["dedup_minhash_lsh"] == min(recent)
    assert all(isinstance(v, float) for v in base.values())
