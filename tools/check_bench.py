#!/usr/bin/env python3
"""Per-query bench regression gate.

Compares a bench run (bench_full.json — the one JSON line Bench.scala
emits) against tools/bench_baseline.json, the append-only record of each
query's FIRST recorded time at sf0.1 local[32]. The contract (BENCH_NOTES):
no query may exceed 2x its first-recorded time, after removing ambient
machine load.

Load-band normalization: a loaded machine shifts EVERY row (r9: untouched
q1_agg drifted +35% in a run where nothing changed), so raw ratios flag
noise. Each query's ratio cur/base is divided by the MEDIAN ratio across
all shared queries — the median is the ambient-load estimate (a real
regression is one query moving; ambient load is all of them moving
together). A sub-second floor absorbs scheduler jitter on tiny rows.

Segment normalization (r14, automatic when the run carries "sentinel"
records): Bench re-times fixed anchored rows every ~20 queries.
A load BURST that covers minutes 3-4 of the run inflates the rows in
that window AND the sentinels bracketing them; each query's divisor is
raised to its segment's sentinel ratio (relative to the sentinel run
median), clamped to [ambient, ambient * SEG_CLAMP]. The divisor never
drops below the global ambient, so a fast-jitter sentinel cannot
tighten the gate, and the clamp keeps a slow sentinel from absorbing a
real regression. Rows whose gate value came from the second window
("windows" record, the in-run re-measure) are normalized against the
pass-2 sentinels bracketing their re-measure position.

Two-sentinel runs (r15+): Bench interleaves a CPU sentinel (q1_agg) AND
an IO-light micro sentinel (sketch_cms), tagging each record with "q".
Contention amplifies the two classes differently (r11/r14 evidence:
sketch_*/sim_* micro rows 2-3x over ambient while CPU rows barely
move), so MICRO_FAMILIES rows gate against the micro sentinel's
segments and everything else against the CPU sentinel's — each
normalized by its own sentinel's run median, same clamps. Legacy
single-sentinel runs (no "q"/"sentinel_qs") gate exactly as before.

Family normalization (--per-family, for LOADED-run gating): contention
does not shift all rows equally — IO-bound families (artifact reads,
persist-heavy dedup) amplify 2-3x while CPU rows barely move (the r11
judge-run failure mode). With --per-family each query is normalized by
its family's own median ratio (family = the FIRST '_'-separated token,
e.g. dedup_*/anomaly_*/ts_*; min 4 members, else global), CLAMPED to at most
FAMILY_CLAMP x ambient: a family uniformly 2.5x over ambient is NOT
silently absorbed — the clamp leaves the excess visible, so a real
family-wide regression still fails while family-correlated load
sensitivity inside the clamp does not. Family medians are always
printed as a diagnostic, gating or not. Family and segment factors
compose by MAX (both estimate the same thing — local ambient — so
taking the larger, each already clamped, avoids double-absorbing).

Exit codes: 0 = pass, 1 = at least one query over the gate, 2 = usage
or malformed baseline (schema violations are hard errors so the two
re-anchor formats can never drift again).

Usage:
  python3 tools/check_bench.py [bench_full.json] [--factor 2.0] [--update]
                               [--per-family]
  --update appends queries missing from the baseline (first recording);
  it NEVER rewrites an existing entry.
"""
import json
import statistics
import sys

BASELINE = "tools/bench_baseline.json"
# below this many seconds (both sides), a ratio is scheduler jitter, not a
# regression signal — 0.15 s is the observed same-binary load band for the
# sub-second rows in BENCH_NOTES
ABS_FLOOR_SEC = 0.15
# rows still under this after the regression are micro-rows: a 2x there is
# scheduler jitter (BENCH_NOTES' observed band — untouched sub-second rows
# drift +-0.2 s run to run); real operator regressions put the row above it
MATERIAL_SEC = 0.5
# --per-family: a family's median may absorb at most this much beyond the
# global ambient factor; anything past it stays in the queries' normalized
# ratios (and fails the gate) — the guard that keeps family normalization
# from hiding a genuine family-wide regression
FAMILY_CLAMP = 1.5
FAMILY_MIN = 4
# a segment's sentinel may absorb at most this much beyond the global
# ambient — a burst past 3x ambient is indistinguishable from a machine
# that shouldn't be producing gate evidence at all
SEG_CLAMP = 3.0

# append-only baseline schema: ONE re-anchor format (VERDICT r13 ask #7).
ENTRY_KEYS = {"sec", "first", "re_anchored"}
REANCHOR_KEYS = {"date", "sec", "prior_sec", "reason"}


def family_of(q):
    """Coarse operator family: the first '_'-separated token (dedup_*,
    anomaly_*, ts_*, src_*, text_*, ...) — matches how the bench rows are
    named and how contention groups them (shared kernels + artifacts)."""
    return q.split("_", 1)[0]


def validate_baseline(base):
    """Reject unknown keys so a second re-anchor format can't creep in."""
    errs = []
    for q, e in base.items():
        extra = set(e) - ENTRY_KEYS
        if extra:
            errs.append(f"{q}: unknown entry keys {sorted(extra)}")
        if "sec" not in e or "first" not in e:
            errs.append(f"{q}: missing required 'sec'/'first'")
        for i, r in enumerate(e.get("re_anchored", [])):
            extra = set(r) - REANCHOR_KEYS
            if extra:
                errs.append(f"{q}.re_anchored[{i}]: unknown keys {sorted(extra)}")
            if "sec" not in r or "reason" not in r:
                errs.append(f"{q}.re_anchored[{i}]: missing 'sec'/'reason'")
    return errs


# families whose rows are IO-light micro queries that amplify under
# contention 2-3x while CPU rows barely move (the r11/r14 loaded-run
# evidence: sketch_*/sim_* at 2.2-2.8x over ambient, src artifact reads
# alongside) — these gate against the micro-class sentinel (sketch_cms)
# when the run carries one; everything else against the CPU sentinel.
MICRO_FAMILIES = {"sketch", "sim", "src"}


def sentinel_names(doc):
    qs = doc.get("sentinel_qs")
    if qs:
        return list(qs)
    q = doc.get("sentinel_q")
    return [q] if q else []


def sentinel_for(q, names):
    """Pick the sentinel matching the query's family class: micro-family
    rows use the first micro-family sentinel when the run has one
    (two-sentinel runs, r15+); everything else — and every query in a
    legacy single-sentinel run — uses the primary."""
    if len(names) > 1 and family_of(q) in MICRO_FAMILIES:
        for n in names[1:]:
            if family_of(n) in MICRO_FAMILIES:
                return n
    return names[0] if names else None


def segment_factors(doc, cur, anchor_sec):
    """Per-query sentinel ratio (raw, un-normalized): for each shared
    query, the max of the two pass-1 timings of ITS class sentinel
    bracketing its run position, as a ratio to that sentinel's anchor.
    Rows re-measured in window 2 use the pass-2 sentinels bracketing
    their re-measure position instead (that's the segment their gate
    value came from). Returns (factors {q: ratio}, assignment
    {q: sentinel}, medians {sentinel: median factor}); all empty when
    the run carries no usable sentinel records (pre-r14 runs)."""
    sent = doc.get("sentinel") or []
    names = sentinel_names(doc)
    if not sent or not names:
        return {}, {}, {}
    default_q = names[0]
    recs, anchors = {}, {}
    for n in names:
        rs = [r for r in sent if r.get("q", default_q) == n]
        if not rs:
            continue
        try:
            anchors[n] = anchor_sec(n)
        except KeyError:
            continue
        recs[n] = {
            1: sorted((r for r in rs if r.get("pass") == 1), key=lambda r: r["at"]),
            2: sorted((r for r in rs if r.get("pass") == 2), key=lambda r: r["at"]),
        }
    usable = [n for n in names if n in recs]
    if not usable:
        return {}, {}, {}

    def brackets(records, pos, s_anchor):
        before = [r["sec"] for r in records if r["at"] <= pos]
        after = [r["sec"] for r in records if r["at"] > pos]
        vals = ([before[-1]] if before else []) + ([after[0]] if after else [])
        return max(vals) / s_anchor if vals else None

    # run order: Bench emits queries sorted by name; "windows" preserves
    # the re-measure order (python dicts keep insertion order)
    order = sorted(cur)
    win2 = list(doc.get("windows") or {})
    out, assigned = {}, {}
    for i, q in enumerate(order):
        sname = sentinel_for(q, usable)
        if sname is None:
            continue
        if q in win2 and cur[q] != (doc["windows"][q][0]):
            # gate value came from the second window
            f = brackets(recs[sname][2], win2.index(q), anchors[sname]) if recs[sname][2] else None
        else:
            f = brackets(recs[sname][1], i, anchors[sname])
        if f is not None:
            out[q] = f
            assigned[q] = sname
    meds = {}
    for n in usable:
        fs = [out[q] for q in out if assigned[q] == n]
        if fs:
            meds[n] = statistics.median(fs)
    return out, assigned, meds


def main(argv):
    # collect positionals, skipping the value token after a bare --factor
    # (space-separated form: "--factor 2.0" — the 2.0 is not a path)
    args = []
    skip_next = False
    for a in argv[1:]:
        if skip_next:
            skip_next = False
            continue
        if a == "--factor":
            skip_next = True
        elif not a.startswith("--"):
            args.append(a)
    bench_path = args[0] if args else "bench_full.json"
    factor = 2.0
    for i, a in enumerate(argv[1:], start=1):
        if a.startswith("--factor"):
            factor = float(a.split("=", 1)[1] if "=" in a else argv[i + 1])
    update = "--update" in argv
    per_family = "--per-family" in argv

    try:
        doc = json.load(open(bench_path))
        cur = doc["queries"]
    except Exception as e:
        print(f"cannot read bench run {bench_path}: {e}")
        return 2
    base_doc = json.load(open(BASELINE))
    base = base_doc["queries"]
    schema_errs = validate_baseline(base)
    if schema_errs:
        print(f"MALFORMED baseline {BASELINE}:")
        for e in schema_errs:
            print(f"  {e}")
        return 2

    # sanctioned re-anchor (BENCH_NOTES "Anchor policy"): an entry may
    # carry a "re_anchored" list of {date, sec, reason, prior_sec}
    # records, appended only — never rewriting "sec"/"first" — after a
    # root-cause A/B shows a stable band is the cost of corrected
    # semantics/measurement, not a regression. The gate uses the LATEST
    # anchor; history stays in the entry.
    def anchor_sec(q):
        e = base[q]
        return (e["re_anchored"][-1]["sec"] if e.get("re_anchored") else e["sec"])

    shared = sorted(q for q in cur if q in base and cur[q] > 0)
    missing = sorted(q for q in cur if q not in base and cur[q] > 0)
    ratios = {q: cur[q] / anchor_sec(q) for q in shared}
    if not ratios:
        print("no shared queries between run and baseline")
        return 2
    ambient = statistics.median(ratios.values())

    # segment factors from the in-run sentinels (raw ratios, normalized
    # below by EACH sentinel's own run median so a uniformly-loaded run
    # doesn't double-count ambient; two-sentinel runs give micro-family
    # rows the micro sentinel's segments)
    seg_raw, seg_sent, seg_meds = segment_factors(doc, cur, anchor_sec)
    if seg_raw:
        for n in sorted(seg_meds):
            fs = [seg_raw[q] for q in seg_raw if seg_sent[q] == n]
            marks = len([r for r in (doc.get("sentinel") or [])
                         if r.get("q", sentinel_names(doc)[0]) == n and r.get("pass") == 1])
            print(f"sentinel {n}: {marks} pass-1 marks, median ratio {seg_meds[n]:.2f}, "
                  f"worst segment {max(fs)/seg_meds[n]:.2f}x median ({len(fs)} rows gated)")
    if doc.get("windows"):
        parts = ", ".join(f"{q} {w[0]:.2f}->{w[1]:.2f}s" for q, w in sorted(doc["windows"].items()))
        print(f"re-measured (second window, gate on better): {parts}")

    # family medians: diagnostic always, gating divisor under --per-family
    fams = {}
    for q in shared:
        fams.setdefault(family_of(q), []).append(ratios[q])
    fam_med = {f: statistics.median(rs) for f, rs in fams.items() if len(rs) >= FAMILY_MIN}
    if fam_med:
        parts = ", ".join(f"{f}={m/ambient:.2f}x" for f, m in sorted(fam_med.items()))
        print(f"family medians (vs ambient): {parts}")

    def divisor(q):
        d = ambient
        if per_family:
            m = fam_med.get(family_of(q))
            if m is not None:
                # absorb family-correlated CONTENTION only: family median
                # above ambient, up to the clamp (a family uniformly past
                # it keeps failing). A family median BELOW ambient never
                # tightens the gate — half a family getting 10x faster
                # (artifact routing) must not flag the family's
                # live-compute rows as regressions.
                d = max(d, min(max(m, ambient), ambient * FAMILY_CLAMP))
        if q in seg_raw:
            sname = seg_sent[q]
            if family_of(sname) in MICRO_FAMILIES:
                # micro-class rows: the micro sentinel's ABSOLUTE ratio
                # to its anchor is the class-ambient estimate — global
                # ambient (CPU-row-dominated) under-reads this class's
                # contention response, and a burst-relative divisor
                # would absorb nothing when the whole class is uniformly
                # elevated. Non-circular: the sentinel is an untouched
                # anchored row. Never below ambient; clamped, so a real
                # class-wide regression past 3x ambient still fails.
                seg = seg_raw[q]
            else:
                # CPU rows: burst-relative — this query's bracketing
                # sentinels vs the sentinel run median; >1 only when ITS
                # segment ran hotter than the run's typical segment
                # (global ambient already carries the class level).
                m = seg_meds.get(sname)
                seg = ambient * (seg_raw[q] / m) if m else None
            if seg is not None:
                d = max(d, min(max(seg, ambient), ambient * SEG_CLAMP))
        return d

    failures = []
    for q in shared:
        norm = ratios[q] / divisor(q)
        over = norm > factor
        # tiny rows: require the absolute delta to clear the jitter floor
        # and the row itself to be material
        if over and (cur[q] - anchor_sec(q) * divisor(q)) < ABS_FLOOR_SEC:
            over = False
        if over and cur[q] < MATERIAL_SEC:
            over = False
        if over:
            failures.append((q, anchor_sec(q), cur[q], norm))

    print(f"checked {len(shared)} queries vs baseline "
          f"(ambient load factor {ambient:.3f}, gate {factor}x normalized)")
    for q, b, c, n in sorted(failures, key=lambda x: -x[3]):
        print(f"  FAIL {q}: {b:.3f}s -> {c:.3f}s ({n:.2f}x normalized)")
    if missing:
        print(f"  {len(missing)} queries not in baseline: {', '.join(missing[:8])}"
              + (" ..." if len(missing) > 8 else ""))
        if update:
            for q in missing:
                base[q] = {"sec": round(cur[q], 4), "first": bench_path}
            json.dump(base_doc, open(BASELINE, "w"), indent=1, sort_keys=True)
            print(f"  baseline updated (+{len(missing)} first recordings)")
        else:
            print("  (run with --update to record them)")
    # rows whose run threw carry no time (Bench lists them under "failed");
    # a failure is never a pass, whatever the timed rows say
    errored = doc.get("failed", {})
    for q, e in sorted(errored.items()):
        print(f"  FAILED RUN {q}: {e}")
    if not failures and not errored:
        worst = max(shared, key=lambda q: ratios[q] / divisor(q))
        print(f"PASS — worst normalized ratio {ratios[worst]/divisor(worst):.2f}x ({worst})")
    return 1 if failures or errored else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
