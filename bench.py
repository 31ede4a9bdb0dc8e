"""Benchmark harness: run the engine's query catalog at a scale-factor
directory and emit ONE JSON line with per-query wall times.

Env:
  SPARK_GRAFT_SF_DIR  parquet dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local[] parallelism (default 32)

Each query is forced through the `noop` sink so the full physical plan
executes (scan -> shuffle -> agg/join) with zero sink cost — `count()`
would let Spark prune work in the final stage.

Interpreting round-over-round movers: sub-second queries move up to
~20% between identical exclusive runs (SCALE.md "the sub-second
variance floor, measured once" pins the per-query band for the 10
smallest). Flag a small query against BAND-exceedance there, not
against the generic 1.25x vs_prev detector.

Self-adjudicating flags (r13): `python bench.py --record-bands` stores
exclusive per-query min/max-of-N bands for the FULL catalog in
BANDS.json; every normal run then emits `band_exceeded` — only queries
that leave their own band after window-ratio normalization AND whose
module files changed since the bands were recorded — so `vs_prev`
flags without a `band_exceeded` entry are pre-adjudicated as
variance/load and need no re-measure.

After the catalog pass come the streaming probes and the EXTRAS table:
one row per extra measurement, each a builder plus, for the 10x
scale-ratio extras, the (warm-up, 1x, 10x) sizes `_scale_ratio` runs
it at. Every wall time goes through `_timed`.
"""

from __future__ import annotations

import glob
import inspect
import json
import math
import os
import re
import shutil
import subprocess
import sys
import tempfile
import time
from functools import partial
from pathlib import Path

import numpy as np
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from python_stream_processing_framework_spark.catalog import load
from python_stream_processing_framework_spark.functions.vectors import l2_normalize
from python_stream_processing_framework_spark.operators.ann_index import (
    build_ivf_index,
    ivf_index_topk,
)
from python_stream_processing_framework_spark.operators.bpe import bpe_train
from python_stream_processing_framework_spark.operators.charclf import (
    charclf_predict,
    charclf_train,
)
from python_stream_processing_framework_spark.operators.common import (
    materialize,
    release_caches,
)
from python_stream_processing_framework_spark.operators.dedup import (
    decontaminate,
    dedup_corpus,
    minhash_lsh_pairs,
)
from python_stream_processing_framework_spark.operators.dedup_index import (
    minhash_index_admit,
    read_index,
)
from python_stream_processing_framework_spark.operators.embed_index import (
    embed_index_admit,
)
from python_stream_processing_framework_spark.operators.graph import (
    connected_components,
)
from python_stream_processing_framework_spark.operators.joins import salted_join
from python_stream_processing_framework_spark.operators.lm import (
    score_backoff_lm,
    train_backoff_lm,
)
from python_stream_processing_framework_spark.operators.mixture import (
    assign_shards,
    domain_mixture,
    shard_stats,
)
from python_stream_processing_framework_spark.operators.packing import (
    pack_sequences,
    packing_stats,
)
from python_stream_processing_framework_spark.operators.pq import (
    ivfpq_topk,
    pq_encode,
    pq_topk,
    pq_train,
)
from python_stream_processing_framework_spark.operators.probe import (
    linear_probe_predict,
    linear_probe_train,
)
from python_stream_processing_framework_spark.operators.retrieval import (
    bm25_topk,
    tfidf_topk,
)
from python_stream_processing_framework_spark.operators.sampling import hash_split
from python_stream_processing_framework_spark.operators.semdedup import (
    cluster_assign,
    semdedup,
)
from python_stream_processing_framework_spark.operators.setsim import setsim_join
from python_stream_processing_framework_spark.operators.similarity import (
    cosine_lsh_pairs,
    ivf_topk,
)
from python_stream_processing_framework_spark.operators.spans import (
    mask_duplicate_spans_keep_first,
    maximal_duplicate_spans,
)
from python_stream_processing_framework_spark.operators.text import quality_stats
from python_stream_processing_framework_spark.operators.unigram import (
    unigram_segment_counts,
    unigram_train,
    unigram_word_table,
)
from python_stream_processing_framework_spark.operators.wordpiece import (
    wordpiece_segment_counts,
    wordpiece_train,
    wordpiece_vocab,
)
from python_stream_processing_framework_spark.queries import QUERY_REGISTRY
from python_stream_processing_framework_spark.session import get_spark
from python_stream_processing_framework_spark.streaming import Stream

#: timed passes per query; the MINIMUM is reported. Mean/first-pass
#: numbers on a shared box fold concurrent-load noise into the result
#: (r3's totals ranged 27.9-106.6 s for identical code); the min of 3
#: is the standard steady-state estimator under interference.
N_REPEATS = 3

#: a query whose min-of-N exceeds the previous round's recorded time
#: by this factor is load-suspect even when its intra-run spread looks
#: clean: r9's record inflated ~20 heavy queries 15-60% in bursts that
#: spanned all 3 repeats, which the >2x spread heuristic cannot see.
VS_PREV_FLAG = 1.25

#: normalized-band headroom: a query flags only when its min-of-N,
#: divided by the run's window ratio (the median timing/band-min over
#: all banded queries — the same unmoved-controls normalization the
#: round judging applies by hand), exceeds its recorded band max by
#: this factor. Steady-state repeats of identical plans vary 10-30%
#: (SCALE.md); the window ratio removes the shared component, this
#: margin absorbs the per-query remainder.
BAND_MARGIN = 1.15


def _load_bands(sf) -> dict:
    """The checked-in per-query variance bands (BANDS.json at the repo
    root): exclusive min/max-of-N wall times for the full catalog,
    recorded ONCE by `python bench.py --record-bands` on a quiet box,
    plus the commit they were recorded at. Returns {} when absent or
    recorded at a different scale factor."""
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BANDS.json")
    try:
        with open(path) as f:
            rec = json.load(f)
        if rec.get("sf") != sf:
            return {}
        return rec
    except (OSError, json.JSONDecodeError):
        return {}


def _files_touched_since(commit: str) -> set | None:
    """Repo-relative paths changed since ``commit`` (the band
    recording), or None when git can't answer (band exceedance is
    then reported unfiltered rather than silently dropped)."""
    try:
        out = subprocess.run(
            ["git", "diff", "--name-only", f"{commit}..HEAD"],
            capture_output=True,
            text=True,
            timeout=30,
            cwd=os.path.dirname(os.path.abspath(__file__)),
            check=True,
        )
        return {line.strip() for line in out.stdout.splitlines() if line.strip()}
    except Exception:  # noqa: BLE001 - detached/missing git must not kill bench
        return None


def _package_import_closure() -> dict:
    """module file -> set of package files it (transitively) imports,
    built from one regex pass over the package source. Used to map a
    query to every file whose change could move its timing: the
    query's own module plus the operator/streaming modules it pulls in
    (imports inside function bodies included — the source scan sees
    them where runtime introspection would not)."""
    root = os.path.dirname(os.path.abspath(__file__))
    pkg = "python_stream_processing_framework_spark"
    edges: dict[str, set[str]] = {}
    for path in glob.glob(os.path.join(root, pkg, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, root)
        try:
            src = open(path).read()
        except OSError:
            continue
        deps = set()
        for m in re.finditer(rf"from ({pkg}[\w.]*) import", src):
            mod = m.group(1).replace(".", os.sep)
            for cand in (mod + ".py", os.path.join(mod, "__init__.py")):
                if os.path.exists(os.path.join(root, cand)):
                    deps.add(cand)
                    break
        edges[rel] = deps
    # transitive closure by fixpoint, not memoized DFS: a DFS that
    # caches in-progress nodes under-approximates closures inside
    # import CYCLES (A<->B where A also imports C would cache B
    # without C), and an under-approximated closure misfiles a real
    # band exceedance as 'untouched'. ~100 modules: the iteration is
    # microseconds.
    closure: dict[str, set[str]] = {
        node: {node} | deps for node, deps in edges.items()
    }
    changed = True
    while changed:
        changed = False
        for node, reach in closure.items():
            grown = set(reach)
            for dep in reach:
                grown |= closure.get(dep, {dep})
            if grown != reach:
                closure[node] = grown
                changed = True
    return closure


def _query_files(name: str, closure: dict) -> set:
    """Every package file whose change could legitimately move this
    query's timing (its queries/ module + transitive operator deps)."""
    entry = QUERY_REGISTRY.get(name)
    if entry is None:
        return set()
    mod = sys.modules.get(entry.fn.__module__)
    try:
        rel = os.path.relpath(
            inspect.getfile(mod), os.path.dirname(os.path.abspath(__file__))
        )
    except (TypeError, ValueError):
        return set()
    return closure.get(rel, {rel})


def _band_exceeded(
    timings: dict, bands_rec: dict
) -> tuple[dict, dict, float, int]:
    """Self-adjudicating bench flags (r13): compare this run's
    min-of-N against each query's recorded exclusive band, normalized
    by the run's window ratio, and keep only exceeders whose module
    files changed since the bands were recorded — an untouched query
    outside its band is load/variance by definition and lands in the
    informational `band_exceeded_untouched` instead of the actionable
    flag. A catalog-WIDE regression would inflate the window ratio and
    hide here; the vs_prev total comparison still catches that case."""
    bands = bands_rec.get("bands") or {}
    common = [n for n in timings if n in bands and bands[n].get("min", 0) > 0]
    if not common:
        return {}, {}, 1.0, len(timings)
    ratios = sorted(timings[n] / bands[n]["min"] for n in common)
    window_ratio = max(1.0, ratios[len(ratios) // 2])
    touched = _files_touched_since(bands_rec.get("recorded_commit", ""))
    closure = _package_import_closure()
    flagged: dict = {}
    untouched: dict = {}
    for n in common:
        norm = timings[n] / window_ratio
        if norm <= bands[n]["max"] * BAND_MARGIN:
            continue
        detail = {
            "t": timings[n],
            "norm": round(norm, 3),
            "band_max": bands[n]["max"],
        }
        if touched is None or (touched & _query_files(n, closure)):
            flagged[n] = detail
        else:
            untouched[n] = detail
    return flagged, untouched, round(window_ratio, 3), len(timings) - len(common)


def _bands_commit_drift(bands_rec: dict | None) -> bool:
    """True when CODE moved since BANDS.json was recorded — the
    provenance notice that band flags on touched queries are expected
    and the round should re-record as its LAST code-affecting step
    (the r13 failure mode: 8 flags, 6 of them noise, because two
    commits landed after recording). Only PACKAGE source counts —
    the same universe the per-query touch filter adjudicates with:
    the BANDS commit itself, docs/results commits, and bench.py flag
    plumbing must not alarm forever (a bench.py METHODOLOGY change —
    repeats, warm-up, timing — is a manual re-record trigger by
    policy; no file heuristic can tell it from plumbing)."""
    rec = (bands_rec or {}).get("recorded_commit", "")
    if not rec:
        return False
    touched = _files_touched_since(rec)
    if touched is None:
        return False
    return any(
        t.startswith("python_stream_processing_framework_spark/")
        for t in touched
    )


def _load_prev_bench(sf: float | str) -> tuple[int | None, dict[str, float]]:
    """Per-query timings from the newest BENCH_r*.json at the repo
    root whose scale factor matches — the cross-round reference for
    load detection. The driver's record keeps only bench stdout's
    tail, so the parsed compact line carries the slowest ~90% of the
    catalog (slowest-first greedy fit) — exactly the queries whose
    inflation matters. Returns (round_number, {} ) when no comparable
    record exists."""
    root = os.path.dirname(os.path.abspath(__file__))
    best: tuple[int, dict[str, float]] | None = None
    for path in glob.glob(os.path.join(root, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", path)
        if not m:
            continue
        try:
            with open(path) as f:
                rec = json.load(f)
            parsed = rec.get("parsed") or {}
            queries = parsed.get("queries") or {}
            if not queries or parsed.get("sf") != sf:
                continue
        except (OSError, json.JSONDecodeError, AttributeError):
            continue
        n = int(m.group(1))
        if best is None or n > best[0]:
            best = (n, {k: float(v) for k, v in queries.items()})
    return (best[0], best[1]) if best else (None, {})


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    spark = get_spark("pspf-spark-bench", cpus=cpus)

    # Warm-up pass (UNCOUNTED): run every query once at the TARGET SF
    # before the timed pass — classic run-twice-report-second. Janino
    # codegen + C2 JIT of a heavy shape (the O(n^2) pair join, the
    # lambda-dense LSH signatures) costs 10-45 s on first execution
    # and lands arbitrarily, making cold totals round-over-round
    # noise; JIT thresholds need at-scale iteration counts, so warming
    # at a smaller SF does not take. Steady-state is also the honest
    # number at cluster scale, where compile cost amortizes to zero.
    # (session.py pins spark.sql.codegen.cache.maxEntries high enough
    # that the warm-up's compiled classes stay resident.)
    for name in sorted(QUERY_REGISTRY):
        try:
            _noop(QUERY_REGISTRY[name].fn(spark, sf_dir))
        except Exception as exc:  # noqa: BLE001 - warm-up must never fail bench
            # ...but a query that only passes when timed must be VISIBLE:
            # log to stderr (stdout carries the one-line JSON contract).
            print(f"WARMUP FAILURE {name}: {exc!r}", file=sys.stderr)
        _release()

    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    maxima: dict[str, float] = {}
    for name in sorted(QUERY_REGISTRY):
        fn = QUERY_REGISTRY[name].fn
        samples: list[float] = []
        for _ in range(N_REPEATS):
            samples.append(_timed(lambda: _noop(fn(spark, sf_dir)))[1])
            # dedup/similarity operators persist reused subplans and pq
            # ships codebook broadcasts; release both between passes so
            # no pass reads a predecessor's cache and 50 queries don't
            # accumulate dead blocks in one session.
            _release()
        timings[name] = min(samples)
        maxima[name] = max(samples)
        # max/min of the N repeats. min-of-N is robust to load landing
        # on SOME passes, but when a load burst spans the whole repeat
        # window even the min is contaminated (r4: dedup_exact reported
        # 1.59 s vs 0.57 s exclusive — all 3 passes ran inside one busy
        # window). A spread > 2x is the tell: steady-state repeats of
        # identical plans vary ~10-30%, never 2x, unless something else
        # held the cores.
        spreads[name] = round(
            max(samples) / min(samples) if min(samples) > 0 else 1.0, 2
        )

    # Two load heuristics flag queries for an exclusive re-run:
    # (a) intra-run spread > 2x (a burst hit SOME of the N repeats);
    # (b) min-of-N exceeding the previous round's recorded time by
    #     >25% (a burst spanning ALL repeats — invisible to (a); this
    #     is the r9 failure mode, where bpe/ccnet/semdedup inflated
    #     30-73% with zero code diff and spread stayed clean). A
    #     query legitimately changed by this round's commits can trip
    #     (b) too — the cost is one harmless extra re-run and the
    #     vs_prev ratio it reports is the honest number either way.
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    if "--record-bands" in sys.argv:
        # band-recording mode: persist this run's exclusive per-query
        # min/max-of-N as the catalog's variance bands and stop —
        # extras/streaming/flag machinery are the normal run's job.
        # MUST be run on a quiet box (same discipline as trusting any
        # bench number).
        try:
            commit = subprocess.run(
                ["git", "rev-parse", "HEAD"],
                capture_output=True,
                text=True,
                timeout=30,
                cwd=os.path.dirname(os.path.abspath(__file__)),
                check=True,
            ).stdout.strip()
        except Exception:  # noqa: BLE001
            commit = ""
        # provenance guard (r13 verdict #1: bands recorded mid-round,
        # then operator commits landed after — 8 flags, 6 noise): a
        # DIRTY tree means recorded_commit will not describe the code
        # that produced these numbers; recording should be the LAST
        # code-affecting step of a round
        try:
            dirty = bool(
                subprocess.run(
                    ["git", "status", "--porcelain"],
                    capture_output=True,
                    text=True,
                    timeout=30,
                    cwd=os.path.dirname(os.path.abspath(__file__)),
                    check=True,
                ).stdout.strip()
            )
        except Exception:  # noqa: BLE001
            dirty = False
        if dirty:
            print(
                json.dumps(
                    {
                        "warning": "recording bands on a DIRTY tree —"
                        " recorded_commit will not match the code that"
                        " produced these numbers; commit first"
                    }
                )
            )
        rec = {
            "sf": sf_val,
            "cpus": cpus,
            "n_repeats": N_REPEATS,
            "recorded_commit": commit,
            "bands": {
                n: {"min": timings[n], "max": maxima[n]} for n in timings
            },
        }
        path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BANDS.json"
        )
        with open(path, "w") as f:
            json.dump(rec, f, indent=1, sort_keys=True)
        print(json.dumps({"recorded_bands": len(timings), "path": path}))
        return

    prev_round, prev_timings = _load_prev_bench(sf_val)

    def _vs_prev() -> dict[str, float]:
        return {
            n: round(timings[n] / prev_timings[n], 2)
            for n in timings
            if prev_timings.get(n, 0) > 0
        }

    suspect_load = sorted(
        {n for n, s in spreads.items() if s > 2.0}
        | {n for n, r in _vs_prev().items() if r > VS_PREV_FLAG}
    )
    # both numbers are reported: the contaminated first-window min...
    suspect_initial_s = {n: timings[n] for n in suspect_load}

    streaming = _streaming_throughput(spark, sf_dir)
    streaming["facade"] = _facade_throughput(spark)
    extras: dict = {}
    for name, build, scales in EXTRAS:
        extras[name] = (
            _scale_ratio(partial(build, spark), scales)
            if scales
            else build(spark, sf_dir)
        )
        _release()
    ratios = {
        name: extra["stage_ratio_10x_over_1x"]
        for name, extra in extras.items()
        if "stage_ratio_10x_over_1x" in extra
    }

    # ...and the flagged queries' re-run, taken AFTER the extras above
    # so it lands in a genuinely later time window than whatever burst
    # contaminated the catalog pass; keep whichever min survives.
    for name in suspect_load:
        fn = QUERY_REGISTRY[name].fn
        timings[name] = min(timings[name], _timed(lambda: _noop(fn(spark, sf_dir)))[1])
        _release()
    vs_prev = _vs_prev()

    bands_rec = _load_bands(sf_val)
    band_exceeded, band_untouched, band_window_ratio, bands_missing = (
        _band_exceeded(timings, bands_rec) if bands_rec else ({}, {}, 1.0, 0)
    )

    total = round(sum(timings.values()), 3)
    # Rich record first: full-precision timings + every diagnostic,
    # for anyone reading the complete log.
    print(
        json.dumps(
            {
                "metric": "catalog_total_wall_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "streaming": streaming,
                "extras": extras,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "n_queries": len(timings),
                "cpus": cpus,
                # since r2 every query is run once UNCOUNTED first
                # (steady-state post-JIT numbers); since r4 each query
                # is then timed N_REPEATS times and the MIN reported,
                # making per-query numbers robust to concurrent load.
                "n_repeats": N_REPEATS,
                "methodology": "warmup_pass_then_min_of_n",
                # per-query max/min across the N repeats; >2 means the
                # repeat window was load-contaminated and the query got
                # one automatic exclusive re-run (suspect_load lists
                # them). Read flagged numbers as upper bounds.
                "spread": spreads,
                "suspect_load": suspect_load,
                # this round's min / previous round's recorded time
                # (BENCH_r{prev_round}, same sf), AFTER re-runs. >1.25
                # flags a query for the re-run even when its spread is
                # clean — the burst-spans-all-repeats failure mode.
                "vs_prev": vs_prev,
                "prev_round": prev_round,
                # the contaminated first-window mins of flagged
                # queries, next to the post-re-run numbers in
                # `queries` — both windows reported, per the
                # re-run-in-a-later-window contract.
                "suspect_initial_s": suspect_initial_s,
                # r13 self-adjudicating flags: queries whose min-of-N,
                # normalized by this run's window ratio, left their
                # recorded exclusive band (BANDS.json) AND whose module
                # files changed since the bands were recorded. These
                # are the ONLY movers that need human adjudication;
                # band_exceeded_untouched lists exceeders with no
                # touching commit (variance by definition).
                "band_exceeded": band_exceeded,
                "band_exceeded_untouched": band_untouched,
                "band_window_ratio": band_window_ratio,
                "bands_missing": bands_missing,
                "bands_recorded_at": (bands_rec or {}).get(
                    "recorded_commit", ""
                )[:12],
                # r14 provenance notice (the r13 failure: bands
                # recorded mid-round, operator commits after): True
                # means HEAD moved since recording — band flags on
                # TOUCHED queries are then expected and the round
                # should re-record as its last code-affecting step
                "bands_commit_drift": _bands_commit_drift(bands_rec),
            }
        )
    )
    # LAST LINE MUST SURVIVE A 2,000-BYTE TAIL CUT: the round driver
    # persists only the last 2,000 bytes of bench stdout, and a JSON
    # line truncated at its FRONT is unparseable — r5-r7 BENCH records
    # all lost their wall times this way ("parsed": null). Emit a
    # final COMPACT line, budgeted under the cut, carrying the total
    # and as many per-query timings as fit (slowest first — the ones
    # a reader compares against BASELINE.md); anything dropped is
    # summarized in queries_omitted / omitted_total_sec.
    print(
        _tail_safe_line(
            total,
            timings,
            sf,
            cpus,
            prev_round=prev_round,
            vs_prev=vs_prev,
            suspect_load=suspect_load,
            band_exceeded=band_exceeded,
            band_window_ratio=band_window_ratio,
            ratios=ratios,
        )
    )


#: State-partition width for the streaming benchmark. A stateful
#: streaming query's state partitioning is PINNED at first start by
#: spark.sql.shuffle.partitions — AQE never coalesces it — and each
#: HDFS-state partition pays a fixed per-commit cost (snapshot write +
#: rename) every micro-batch regardless of row volume. At this
#: benchmark's ~100k rows/batch, 32 partitions are overhead-dominated:
#: profiled durationMs put state commit at ~9.8 s cumulative vs 2.4 s
#: of actual addBatch compute, and narrowing to 8 took min-of-3 wall
#: from 1.80 s to 0.86 s (55k -> 116k rows/s). The scale rule this
#: encodes: size state partitions to rows-per-batch (here ~12k rows/
#: partition), not to core count — on a 1000-executor job ingesting
#: 100 TB/day the same arithmetic lands in the thousands. The
#: remaining floor is Spark micro-batch machinery, not query code:
#: ~0.4 s query start/planning + a mandatory empty watermark-eviction
#: batch (~0.3 s) that append-mode output needs to flush closed
#: windows.
STREAM_STATE_PARTITIONS = 8


def _tail_safe_line(
    total: float,
    timings: dict,
    sf: str,
    cpus: str,
    budget: int = 1900,
    *,
    prev_round: int | None = None,
    vs_prev: dict | None = None,
    suspect_load: list | None = None,
    band_exceeded: dict | None = None,
    band_window_ratio: float = 1.0,
    ratios: dict | None = None,
) -> str:
    """One compact JSON line guaranteed under ``budget`` bytes.

    Greedy fit: per-query timings enter slowest-first (rounded to
    2dp) until the serialized line would exceed the budget; the rest
    collapse into queries_omitted / omitted_total_sec so the total
    always reconciles. With short catalogs everything fits and the
    omitted fields stay 0. The cross-round summary (previous round
    compared, how many queries regressed >25% vs it, and the flagged
    queries' ratios) rides in the fixed part of the line so it
    survives the tail cut with the totals, and so do ``ratios``, the
    scale-ratio extras' ``{extra: {stage: 10x/1x}}``, compacted to
    1-decimal values under stage names without their ``_s`` suffix.
    """
    base = {
        "metric": "catalog_total_wall_seconds",
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": cpus,
        "n_queries": len(timings),
        "value": total,
    }
    if prev_round is not None and vs_prev:
        base["prev_round"] = prev_round
        base["n_vs_prev_over_125"] = sum(
            1 for r in vs_prev.values() if r > VS_PREV_FLAG
        )
        # the r13 self-adjudicating flag: band-leavers WITH a touching
        # commit since BANDS.json was recorded. The authoritative
        # mover list — vs_prev flags without a band_exceeded entry are
        # pre-adjudicated as variance (see bench docstring).
        base["n_band_exceeded"] = len(band_exceeded or {})
        base["band_exceeded"] = sorted(band_exceeded or {})[:12]
        base["band_window_ratio"] = band_window_ratio
        # flagged queries' final ratios only — bounded, highest first
        base["vs_prev_flagged"] = dict(
            sorted(
                ((n, vs_prev[n]) for n in (suspect_load or []) if n in vs_prev),
                key=lambda kv: -kv[1],
            )[:12]
        )
    if ratios:
        base["ratio_10x"] = {
            extra: {k.removesuffix("_s"): round(r, 1) for k, r in stages.items()}
            for extra, stages in ratios.items()
        }
    ordered = sorted(timings.items(), key=lambda kv: (-kv[1], kv[0]))
    kept: dict = {}
    for i, (name, secs) in enumerate(ordered):
        trial = dict(base)
        trial["queries"] = {**kept, name: round(secs, 2)}
        trial["queries_omitted"] = len(ordered) - i - 1
        trial["omitted_total_sec"] = round(
            sum(v for _, v in ordered[i + 1 :]), 2
        )
        if len(json.dumps(trial, separators=(",", ":"))) > budget:
            break
        kept[name] = round(secs, 2)
    n_kept = len(kept)
    out = dict(base)
    out["queries"] = kept
    out["queries_omitted"] = len(ordered) - n_kept
    out["omitted_total_sec"] = round(sum(v for _, v in ordered[n_kept:]), 2)
    return json.dumps(out, separators=(",", ":"))


def _timed(fn, *, repeats: int = 1, warmup: bool = False):
    """``(result, seconds)`` of ``fn()``: the fastest of ``repeats``
    calls, after one uncounted call when ``warmup`` (plan compile,
    JIT and file listing land there, as in the catalog warm-up pass).
    The result is the last call's; seconds are rounded to the
    millisecond. Every wall time in the bench comes from here."""
    if warmup:
        fn()
    best = float("inf")
    for _ in range(repeats):
        t0 = time.perf_counter()
        out = fn()
        best = min(best, time.perf_counter() - t0)
    return out, round(best, 3)


def _noop(df) -> None:
    """Execute ``df``'s full physical plan through the zero-cost
    ``noop`` sink (see the module docstring for why not ``count()``)."""
    df.write.mode("overwrite").format("noop").save()


def _release() -> None:
    """Free what a pass cached: the operators' tracked frames,
    broadcasts and checkpoints, then every table the session cached
    (plain ``persist()`` included), so no pass reads a predecessor's
    cache and dead blocks do not pile up in one session."""
    release_caches()
    SparkSession.active().catalog.clearCache()


def _scale_ratio(run, scales) -> dict:
    """Run ``run(n)`` at each of ``scales`` = (warm-up, 1x, 10x) sizes,
    releasing every cache after each run, and report the 1x and 10x
    results with each stage's 10x/1x wall ratio.

    The warm-up run is uncounted: JIT/codegen for the pipeline's
    shapes lands there (the catalog warm-up's rationale); without it
    the 1x run absorbs all compile cost and every ratio reads
    artificially sub-linear. A run reports its stage walls either as
    a ``stages`` dict or as top-level ``*_s`` keys. A stage that read
    0 s at 1x gets no ratio. A ratio far above 10 is a super-linear
    scale hazard the small runs cannot show."""
    results = []
    for n in scales:
        results.append(run(n))
        _release()
    one, ten = results[1:]
    s1, s10 = (
        r.get("stages") or {k: v for k, v in r.items() if k.endswith("_s")}
        for r in (one, ten)
    )
    return {
        "1x": one,
        "10x": ten,
        "stage_ratio_10x_over_1x": {
            k: round(s10[k] / s1[k], 2) for k in s1 if s1[k] > 0
        },
    }


#: State-partition width for the streaming benchmark. A stateful
#: streaming query's state partitioning is PINNED at first start by
#: spark.sql.shuffle.partitions — AQE never coalesces it — and each
#: HDFS-state partition pays a fixed per-commit cost (snapshot write +
#: rename) every micro-batch regardless of row volume. At this
#: benchmark's ~100k rows/batch, 32 partitions are overhead-dominated:
#: profiled durationMs put state commit at ~9.8 s cumulative vs 2.4 s
#: of actual addBatch compute, and narrowing to 8 took min-of-3 wall
#: from 1.80 s to 0.86 s (55k -> 116k rows/s). The scale rule this
#: encodes: size state partitions to rows-per-batch (here ~12k rows/
#: partition), not to core count — on a 1000-executor job ingesting
#: 100 TB/day the same arithmetic lands in the thousands. The
#: remaining floor is Spark micro-batch machinery, not query code:
#: ~0.4 s query start/planning + a mandatory empty watermark-eviction
#: batch (~0.3 s) that append-mode output needs to flush closed
#: windows.
STREAM_STATE_PARTITIONS = 8


def _streaming_throughput(spark, sf_dir: str) -> dict:
    """Structured Streaming micro-benchmark: drive the events table
    through a watermarked tumbling-window aggregation as a real
    streaming query (availableNow) and report rows/sec. Min-of-N like
    the catalog timings (fresh checkpoint per pass — each pass is a
    complete from-offset-0 run): single-pass numbers bounced 27-40k
    rows/s round-to-round on shared-box noise alone. Also records one
    pass at the session's default (core-count) width so the
    state-partition sizing effect stays measured, not assumed."""
    path = f"{sf_dir}/events.parquet"
    batch = spark.read.parquet(path)
    n_rows = batch.count()
    # file streams want a directory: expose the single parquet file
    # through a symlinked temp dir (read-only testdata stays untouched)
    src_dir = Path(tempfile.mkdtemp(prefix="bench-stream-src-"))
    (src_dir / "events.parquet").symlink_to(path)

    def one_pass(state_partitions: int) -> float:
        # bench.py is a serial script, so a set/restore around query
        # START (the only moment the width is read) cannot race.
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
        try:
            src = spark.readStream.schema(batch.schema).parquet(str(src_dir))
            if dict(src.dtypes)["ts"] == "bigint":  # TIMESTAMP(NANOS)
                src = src.withColumn(
                    "ts", F.timestamp_micros(F.expr("ts DIV 1000"))
                )
            src = src.withWatermark("ts", "1 hour")
            agg = src.groupBy(
                F.window("ts", "10 minutes"), F.col("user_id")
            ).agg(F.count("*").alias("n"), F.sum("value").alias("v"))
            ckpt = tempfile.mkdtemp(prefix="bench-stream-ck-")
            _, wall = _timed(
                lambda: agg.writeStream.outputMode("append")
                .format("noop")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
                .awaitTermination()
            )
            shutil.rmtree(ckpt, ignore_errors=True)
            return wall
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    try:
        best = min(one_pass(STREAM_STATE_PARTITIONS) for _ in range(N_REPEATS))
        wide = one_pass(
            int(spark.conf.get("spark.sql.shuffle.partitions"))
        )
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
    return {
        "rows": n_rows,
        "wall_s": best,
        "rows_per_s": round(n_rows / best, 1),
        "n_repeats": N_REPEATS,
        "state_partitions": STREAM_STATE_PARTITIONS,
        # single pass at core-count width: the sizing effect, measured
        "rows_per_s_default_width": round(n_rows / wide, 1),
    }


def _facade_throughput(spark) -> dict:
    """Throughput of the FACADE itself (Stream.pipeline: JSON-lines
    topic -> executor-side mapInPandas transform -> idempotent
    per-batch_id sink), as distinct from the raw Structured Streaming
    probe above — this one pays our code's costs: emit's file layout,
    the DSL's Arrow exchange, _write_batch_jsonl. 50k rows in 50
    emit-files (realistic many-small-files broker shape), min-of-N
    full fresh runs. State width via Stream(state_partitions=8) —
    same sizing rule as the raw probe."""
    schema = StructType(
        [
            StructField("event_id", StringType()),
            StructField("k", LongType()),
            StructField("value", DoubleType()),
        ]
    )
    n_rows, n_files = 50_000, 50
    per = n_rows // n_files

    def double(ev):
        if ev["value"] < 0:  # never: keep the filter honest
            return None
        return {**ev, "value": ev["value"] * 2}

    best = float("inf")
    for _ in range(N_REPEATS):
        root = Path(tempfile.mkdtemp(prefix="bench-facade-"))
        stream = Stream(spark, str(root / "broker"), state_partitions=8)
        for f in range(n_files):
            stream.emit(
                "in",
                *[
                    {"event_id": f"e{f}_{i}", "k": i % 97, "value": float(i)}
                    for i in range(per)
                ],
            )
        stream.pipeline("in", schema).map(double).sink("out")
        _, wall = _timed(stream.run_until_idle)
        out_rows = _count_lines(root / "broker" / "out")
        assert out_rows == n_rows, f"facade bench lost rows: {out_rows}"
        best = min(best, wall)
        shutil.rmtree(root, ignore_errors=True)
    return {
        "rows": n_rows,
        "n_emit_files": n_files,
        "wall_s": best,
        "rows_per_s": round(n_rows / best, 1),
        "n_repeats": N_REPEATS,
    }


def _count_lines(topic_dir: Path) -> int:
    """Rows a facade sink wrote: lines over the topic's JSON files."""
    return sum(1 for p in topic_dir.glob("*.json") for _ in open(p))


def _skew_join(spark, sf_dir: str) -> dict:
    """Skewed-key join: half of the events collapse onto ONE hot user,
    then join user->dim. Times the plain shuffle join against
    `salted_join` (operators/joins.py) on identical inputs — the
    measured form of the skew-mitigation story."""
    (events,) = load(spark, sf_dir, "events")
    skewed = events.select(
        F.when(F.col("value") < 500, F.lit(0))  # ~hot key 0
        .otherwise(F.col("user_id"))
        .alias("user_id"),
        "value",
    )
    dim = (
        events.select("user_id").distinct().withColumn("flag", F.col("user_id") % 7)
    )
    out = {}
    for name, fn in (
        ("plain", lambda: skewed.join(dim, "user_id")),
        ("salted", lambda: salted_join(skewed, dim, "user_id", salt=8)),
    ):
        n, wall = _timed(
            lambda: fn().groupBy().agg(F.count(F.lit(1)).alias("n")).collect()[0]["n"]
        )
        out[name] = {"wall_s": wall, "rows": n}
    return out


def _ivf_dim256(spark, sf_dir: str) -> dict:
    """IVF top-k at dim 256 over 20k synthetic vectors — pins the
    dimension-agnostic centroid build (posexplode shape): the per-dim
    aggregate it replaced stalls Catalyst at this width."""
    vecs = spark.range(0, 20000).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % 32).alias("label"),
        F.expr(
            "transform(sequence(1, 256),"
            " d -> cast(pmod(id * 31 + d * 7, 97) as double) / 97.0)"
        ).alias("embedding"),
    )
    rows, wall = _timed(lambda: ivf_topk(vecs, query_id=0, k=10, n_probe=4).collect())
    return {"wall_s": wall, "rows": len(rows), "dim": 256, "n_vectors": 20000}


def _lsh_dim1024(spark, sf_dir: str) -> dict:
    """Sign-LSH near-dup at dim 1024 / 32 planes — pins the
    broadcast-DataFrame plane shipping: the nested-literal form it
    replaced built a 32k-node expression tree at this width (131k at
    dim 4096) and stalled analysis."""
    vecs = spark.range(0, 1000).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(1, 1024),"
            " d -> cast(pmod(id * 37 + d * 11, 101) as double) / 101.0 - 0.5)"
        ).alias("embedding"),
    )
    n, wall = _timed(lambda: cosine_lsh_pairs(vecs, threshold=0.9).count())
    return {"wall_s": wall, "pairs": n, "dim": 1024, "n_vectors": 1000}


def _components_200k(spark, sf_dir: str) -> dict:
    """connected_components at ~200k edges (~10x the catalog query's
    edge volume): 40k 5-node star clusters (the near-dup shape,
    diameter 2) plus one 1000-node path forcing multi-round
    propagation. Pins the claim that per-round shuffles stay bounded
    and the driver only ever sees convergence counts."""
    stars = spark.range(0, 200_000).filter(F.col("id") % 5 != 0).select(
        F.col("id").alias("src"), (F.col("id") - F.col("id") % 5).alias("dst")
    )
    # 16-node paths (diameter 15 -> ~15 propagation rounds, well under
    # max_iter; min-label propagation is O(diameter) rounds by design)
    chain = (
        spark.range(1_000_000, 1_001_000)
        .filter(F.col("id") % 16 != 15)
        .select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    )
    edges = stars.unionByName(chain)
    n_edges = edges.count()
    n_components, wall = _timed(
        lambda: connected_components(edges, max_iter=30)
        .select("component")
        .distinct()
        .count()
    )
    return {"wall_s": wall, "n_edges": n_edges, "n_components": n_components}


def _md5_vectors(spark, n: int, *, scaled_copies: bool):
    """``n`` dim-64 vectors (``vec_id``, ``embedding``) with planted
    duplicates, persisted and counted so synthesis (test rigging, not
    the operator under test) stays outside every timed window.

    Components are md5-mixed (a linear congruence would alias
    directions across ids and manufacture bogus near-dups). Every 5th
    vector copies its predecessor: exactly, or with ``scaled_copies``
    at 2x scale (cosine 1.0) and every vector L2-normalized — the
    SemDeDup practice, and the reason scaled copies land in the SAME
    k-means cluster. Plain ``persist()``, not ``materialize``: the
    admission loops call ``release_caches()`` between batches and must
    keep these vectors cached."""
    emb = F.expr(
        "transform(sequence(1, 64), d ->"
        " (cast(conv(substring(md5(concat("
        "    cast(id - cast(id % 5 = 0 as int) as string), '#',"
        "    cast(d as string))), 1, 7), 16, 10) as double)"
        "  / 268435455.0 - 0.5)"
        + (" * (1 + cast(id % 5 = 0 as int)))" if scaled_copies else ")")
    )
    vecs = spark.range(0, n).select(
        F.col("id").alias("vec_id"),
        (l2_normalize(emb) if scaled_copies else emb).alias("embedding"),
    ).persist()
    vecs.count()
    return vecs


def _semdedup_20k(spark, sf_dir: str) -> dict:
    """SemDeDup at 20k vectors / dim 64 / k=32 (10x the catalog
    query's vector count, 4x its cluster count): every 5th vector is
    an exact scaled copy of its predecessor (cosine 1.0), so the
    eps-graph carries ~4k planted duplicate pairs. Pins the
    cluster-bucketed shape: per-cluster blocked matmuls, no pair
    self-join, and the keep-rule dropping exactly the planted
    copies."""
    vecs = _md5_vectors(spark, 20_000, scaled_copies=True)
    dropped, wall = _timed(
        lambda: semdedup(vecs, k=32, iters=2, eps=0.99)
        .filter(~F.col("keep"))
        .count()
    )
    return {"wall_s": wall, "n_vectors": 20_000, "k": 32, "dropped": dropped}


def _corpus_pipeline(spark, sf_dir: str) -> dict:
    """The whole LLM corpus-assembly path end-to-end (the flow of
    examples/llm_corpus_pipeline.py): quality gate -> MinHash-LSH
    pairs -> component collapse -> hash split -> exact-quota language
    mixture -> greedy packing -> shard plan -> audit. One number for
    the composed pipeline, not just its parts."""
    (docs,) = load(spark, sf_dir, "documents")

    def pipeline():
        quality = quality_stats(docs, "doc_id", "text")
        good = docs.join(
            quality.filter(
                (F.col("n_tokens") >= 5) & (F.col("quality_score") > 0.2)
            ).select("doc_id"),
            "doc_id",
        )
        deduped = dedup_corpus(
            good,
            minhash_lsh_pairs(good, "doc_id", "text", threshold=0.5, expand="star"),
            "doc_id",
        )
        # STAGE BOUNDARY: domain_mixture makes two passes over its input
        # (bucket histogram, then selection) and the audits below re-read
        # the packed frame — materialize the hand-offs so no pass
        # recomputes the whole dedup pipeline upstream. (A production
        # pipeline writes each stage to storage; materialize is the
        # in-session equivalent. Unreleased, this triples the wall time.)
        train = materialize(
            hash_split(
                deduped, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05}
            )
            .filter(F.col("split") == "train")
            .select("doc_id", "text", "lang")
        )
        mixed = domain_mixture(
            train,
            "lang",
            {"en": 0.4, "zh": 0.15, "es": 0.15, "de": 0.15, "fr": 0.15},
            "doc_id",
            seed="mix",
        ).select(
            "doc_id",
            F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
        )
        packed = materialize(pack_sequences(mixed, max_tokens=512, num_groups=16))
        audit = packing_stats(packed, max_tokens=512).collect()[0]
        seqs = packed.withColumn(
            "seq_key", F.concat_ws(":", "pack_group", "seq_idx")
        )
        shards = shard_stats(
            assign_shards(seqs, "seq_key", 8, seed="shard"), size_col="n_tokens"
        ).collect()
        return audit, shards

    (audit, shards), wall = _timed(pipeline)
    return {
        "wall_s": wall,
        "docs_in": docs.count(),
        "docs_packed": audit["n_documents"],
        "sequences": audit["n_sequences"],
        "mean_fill": float(audit["mean_fill"]),
        "n_shards": len(shards),
    }


def _synth_corpus(spark, n_docs: int):
    """Deterministic synthetic corpus with REALISTIC pathology: ~35%
    duplicate mass whose copy-cluster sizes are Zipf-skewed (the
    hottest text collects ~1-2% of all duplicate rows — hundreds to
    thousands of byte-identical copies at 100k docs, the exact shape
    the collapse_exact_dups guard exists for), a Zipfian 8-language
    domain distribution, and a 10% near-dup (not exact) variant tail.
    Pure Spark expressions — no Python randomness, same bytes every
    run, any scale."""
    n_base = max(n_docs // 10, 1)
    return spark.range(0, n_docs).select(
        F.col("id").alias("doc_id"),
        F.expr(
            # u^3 of a uniform hash -> Zipf-ish cluster-size skew
            f"""if(pmod(id * 7919, 100) < 35,
                   cast(floor(pow(pmod(id * 2654435761, 1048576)
                                  / 1048576.0d, 3.0d) * {n_base}) as bigint),
                   id)"""
        ).alias("_tid"),
        F.expr(
            """case when pmod(id * 104729, 1000) < 500 then 'en'
                    when pmod(id * 104729, 1000) < 700 then 'zh'
                    when pmod(id * 104729, 1000) < 800 then 'es'
                    when pmod(id * 104729, 1000) < 870 then 'de'
                    when pmod(id * 104729, 1000) < 920 then 'fr'
                    when pmod(id * 104729, 1000) < 960 then 'ru'
                    when pmod(id * 104729, 1000) < 985 then 'ja'
                    else 'pt' end"""
        ).alias("lang"),
    ).select(
        "doc_id",
        "lang",
        F.expr(
            # murmur3 word mixing: any linear-congruence scheme makes
            # the word VECTOR a function of _tid mod vocab-size (only
            # ~5000 distinct texts at any corpus size); hash(_tid, j)
            # keeps distinct tids -> distinct texts w.h.p., still
            # byte-deterministic across runs
            """concat(
                 concat_ws(' ', transform(sequence(1, 30),
                   j -> concat('w', pmod(hash(_tid, j), 5000)))),
                 if(pmod(doc_id * 13, 10) = 0, concat(' z', doc_id), ''))"""
        ).alias("text"),
    )


_CORPUS_10X_WEIGHTS = {
    "en": 0.40, "zh": 0.20, "es": 0.10, "de": 0.10,
    "fr": 0.10, "ru": 0.05, "ja": 0.03, "pt": 0.02,
}


def _corpus_pipeline_10x(spark, n_docs: int) -> dict:
    """The scale-up claim, measured: the full corpus-assembly pipeline
    (quality gate -> MinHash-LSH dedup -> decontaminate vs a held-out
    set -> exact-quota mixture -> packing) on ``n_docs`` synthetic
    docs (~35% duplicate mass, Zipf copy-clusters and domains), with
    per-stage walls; at 10k vs 100k docs a stage whose ratio is
    super-linear (>> 10) is a scale hazard the small runs can't see."""
    docs = materialize(_synth_corpus(spark, n_docs))
    # held-out set drawn from the same text space -> real LSH hits
    heldout = materialize(
        _synth_corpus(spark, max(n_docs // 50, 20)).select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
        )
    )
    stages: dict[str, float] = {}
    good, stages["quality"] = _timed(
        lambda: materialize(
            docs.join(
                quality_stats(docs, "doc_id", "text")
                .filter(F.col("n_tokens") >= 5)
                .select("doc_id"),
                "doc_id",
            )
        )
    )
    deduped, stages["dedup"] = _timed(
        lambda: materialize(
            dedup_corpus(
                good,
                minhash_lsh_pairs(
                    good, "doc_id", "text", threshold=0.5, expand="star"
                ),
                "doc_id",
            )
        )
    )
    clean, stages["decontaminate"] = _timed(
        lambda: materialize(decontaminate(deduped, heldout, threshold=0.5))
    )
    mixed, stages["mixture"] = _timed(
        lambda: materialize(
            domain_mixture(
                clean, "lang", _CORPUS_10X_WEIGHTS, "doc_id", seed="mix10x"
            ).select(
                "doc_id",
                F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
            )
        )
    )
    n_seqs, stages["packing"] = _timed(
        lambda: pack_sequences(mixed, max_tokens=512, num_groups=32)
        .select("pack_group", "seq_idx")
        .distinct()
        .count()
    )
    return {
        "stages": stages,
        "total_s": round(sum(stages.values()), 3),
        "docs_in": docs.count(),
        "docs_after_dedup": deduped.count(),
        "docs_after_decontam": clean.count(),
        "docs_mixed": mixed.count(),
        "sequences": n_seqs,
    }


def _unigram_zipf(spark, n_docs: int) -> dict:
    """Unigram-LM training + encode at a REAL vocabulary (r12 verdict
    #1): the catalog's unigram queries ride the synthetic documents
    corpus, which collapses to ~31 distinct words at every scale
    factor — corpus-flat EM is unevidenced there for the 1e5-word
    regime the module docstring targets. This extra runs
    unigram_train (em_rounds=2, keep_size — the full prune schedule)
    and unigram_segment_counts on the Zipf corpus (~50k-rank
    vocabulary, 120 tokens/doc) at 10k and 100k docs and reports
    per-stage walls, distinct-word counts, and the 10x ratio. The
    claim under test: train cost is bounded by the DISTINCT-word
    table (which grows sublinearly under Zipf — expect ratio well
    under 10 for train), while the one corpus pass and the encode
    join are linear in rows (ratio ~10 is healthy THERE). A
    super-linear train ratio or a candidate join exploding at real
    vocab is exactly what the 31-word corpus cannot see."""
    docs = materialize(_zipf_docs(spark, n_docs))
    out: dict = {"docs": docs.count()}
    # the corpus pass alone: distinct-word table size is the
    # scale knob every later stage is bounded by
    out["distinct_words"], out["word_table_s"] = _timed(
        lambda: unigram_word_table(docs, "text", max_word_len=8).count()
    )
    # train returns an eager localCheckpoint — the wall is the whole
    # computation; the count is just the vocab size
    vocab, out["train_s"] = _timed(
        lambda: unigram_train(
            docs, "text", keep_size=1024, seed_size=2048, max_piece_len=4,
            max_word_len=8, em_rounds=2,
        )
    )
    out["vocab_size"] = vocab.count()
    _, out["encode_s"] = _timed(
        lambda: _noop(
            unigram_segment_counts(
                docs, "doc_id", "text", vocab, max_piece_len=4, max_word_len=8
            )
        )
    )
    return out


_WORDPIECE_MERGES = 16


def _wordpiece_zipf(spark, n_docs: int) -> dict:
    """WordPiece training + greedy encode at a REAL vocabulary (the
    unigram_zipf discipline applied to the r13 trainer): the catalog's
    wordpiece queries ride the ~31-distinct-word documents corpus,
    which cannot evidence the claims that matter at scale — that each
    merge round's cost is bounded by the DISTINCT-word table (Zipf-
    sublinear), not the corpus, and that the greedy encode is one
    corpus-linear join. Runs wordpiece_train (16 merges over one
    collect of the word table — the train stage prices the collect
    and the driver-side merge loop), wordpiece_vocab, and
    wordpiece_segment_counts on the Zipf corpus at 10k and 100k docs
    with per-stage walls and 10x ratios. Healthy: train ratio well
    under 10, encode ratio ~10."""
    docs = materialize(_zipf_docs(spark, n_docs))
    out: dict = {"docs": docs.count()}
    merges, out["train_s"] = _timed(
        lambda: wordpiece_train(
            docs, "text", n_merges=_WORDPIECE_MERGES, max_word_len=8
        )
    )
    out["per_merge_s"] = round(out["train_s"] / _WORDPIECE_MERGES, 3)
    vocab, out["vocab_s"] = _timed(
        lambda: materialize(wordpiece_vocab(docs, "text", merges, max_word_len=8))
    )
    out["vocab_size"] = vocab.count()
    _, out["encode_s"] = _timed(
        lambda: _noop(
            wordpiece_segment_counts(docs, "doc_id", "text", vocab, max_word_len=8)
        )
    )
    return out


def _charclf_zipf(spark, n_docs: int) -> dict:
    """Trained char-n-gram classifier at corpus scale (r15, the
    unigram_zipf discipline): train + predict on the 50k-rank Zipf
    corpus at 10k vs 100k docs with 6 synthetic classes. The claims
    under test: training is ONE corpus explode into a (label, bucket)
    groupBy bounded by |labels| x n_buckets (ratio ~ corpus-linear in
    the explode, flat in the model), and serving is one broadcast
    join + ONE id-keyed shuffle (corpus-linear). Healthy: both ratios
    near 10 or below (explode-dominated), never super-linear."""
    docs = materialize(
        _zipf_docs(spark, n_docs).withColumn(
            "label", F.concat(F.lit("c"), (F.col("doc_id") % 6))
        )
    )
    out: dict = {"docs": docs.count()}
    model, out["train_s"] = _timed(
        lambda: materialize(charclf_train(docs, "doc_id", "text", "label"))
    )
    out["model_rows"] = model.count()
    _, out["predict_s"] = _timed(
        lambda: _noop(charclf_predict(docs, model, "doc_id", "text"))
    )
    return out


def _spans_ratio(spark, n_docs: int) -> dict:
    """Span-dedup family at corpus scale (r16, VERDICT r15 #3 — give
    the heavy tail scale evidence): keep-first masking and maximal
    matched runs on the Zipf corpus at 10k vs 100k docs. The claims
    under test: the gram explode/count pass is linear in corpus
    tokens, the flag join shuffles only (id, position, BIGINT hash)
    rows, and the gaps-and-islands windows stay linear in FLAGGED
    positions — healthy ratios are ~10 or below; super-linear means
    a window partition or join degenerated."""
    docs = materialize(_zipf_docs(spark, n_docs))
    out: dict = {"docs": docs.count()}
    _, out["keep_first_mask_s"] = _timed(
        lambda: _noop(mask_duplicate_spans_keep_first(docs, "doc_id", "text", n=13))
    )
    _release()
    # the release evicted the corpus too: cache it again untimed, so
    # maximal_spans_s prices the operator, not the generator
    docs = materialize(docs)
    _, out["maximal_spans_s"] = _timed(
        lambda: _noop(maximal_duplicate_spans(docs, "doc_id", "text", n=13))
    )
    return out


def _setsim_ratio(spark, n_docs: int) -> dict:
    """Exact PPJoin at corpus scale (r16, VERDICT r15 #3): setsim_join
    on the Zipf corpus at 5k vs 50k docs (2-shingles keep the sets
    discriminative, so the prefix filter actually prunes — unlike the
    synthetic documents corpus's dense regime). The claim under test:
    with a working prefix filter, candidate generation tracks the
    true-pair mass (~2% planted near-dups) instead of n^2 — a healthy
    ratio is ~10-20 (linear-ish with some candidate growth); n^2
    would read ~100."""
    docs = materialize(_zipf_docs(spark, n_docs))
    out: dict = {"docs": docs.count()}
    out["pairs"], out["setsim_s"] = _timed(
        lambda: setsim_join(docs, "doc_id", "text", threshold=0.8, shingle_k=2).count()
    )
    return out


def _lm_backoff_ratio(spark, n_docs: int) -> dict:
    """Stupid-backoff LM train + score at corpus scale (r16, VERDICT
    r15 #3): train_backoff_lm (one corpus scan to the top-order count
    table, lower orders derived by suffix aggregation) and
    score_backoff_lm (three vocab-bounded broadcast joins against the
    event stream) on the Zipf corpus at 10k vs 100k docs. Healthy:
    both stages ~linear (ratio ~10); a super-linear score stage means
    a count-table join stopped broadcasting and started shuffling the
    corpus."""
    docs = materialize(_zipf_docs(spark, n_docs))
    out: dict = {"docs": docs.count()}
    (orders, v, tt), out["train_s"] = _timed(
        lambda: train_backoff_lm(docs, "doc_id", "text", n=3)
    )
    _, out["score_s"] = _timed(
        lambda: _noop(score_backoff_lm(docs, orders, v, tt, "doc_id", "text", n=3))
    )
    return out


def _pq_ratio(spark, n: int) -> dict:
    """PQ train/encode/ADC at corpus scale (r16, VERDICT r15 #3 —
    price the r15 encode-shuffle removal the sf0.1 bench cannot see):
    10k vs 100k dim-64 vectors, m=8/k=32/iters=3. Healthy: train and
    encode ~linear in vectors (each Lloyd round is one full-data
    pass; encode is ONE map-only Arrow pass since r15 — no regroup
    exchange to go super-linear), ADC ~linear in code rows."""
    v = materialize(
        spark.range(0, n).repartition(32).select(
            F.col("id").alias("vec_id"),
            F.expr(
                "transform(sequence(1, 64), d -> cast((id % 25) * 4.0"
                " + pmod(id * 13 + d * 7, 17) / 17.0 as double))"
            ).alias("embedding"),
        )
    )
    out: dict = {"vectors": n}
    cb, out["train_s"] = _timed(lambda: pq_train(v, m=8, k=32, iters=3))
    enc, out["encode_s"] = _timed(lambda: materialize(pq_encode(v, cb)))
    query = v.filter("vec_id = 123").select("embedding").first()[0]
    top, out["adc_s"] = _timed(lambda: pq_topk(enc, cb, query, k=10).collect())
    # ADC ranks clusters, not members (codes tie within a cluster):
    # the quality check is that all 10 hits share the query's cluster.
    out["top10_same_cluster"] = all(r["vec_id"] % 25 == 123 % 25 for r in top)
    return out


def _probe_vectors(spark, n: int):
    """``n`` dim-768 rows over 10 classes, JVM-generated: class signal
    on ``d % 10`` plus hash noise."""
    return spark.range(n).repartition(32).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % 10).cast("int").alias("label"),
        F.expr(
            "transform(sequence(1, 768), d -> cast("
            " (case when (d % 10) = (id % 10) then 0.8 else 0.0 end)"
            " + pmod(xxhash64(id, d), 1000) / 5000.0 as float))"
        ).alias("embedding"),
    )


def _probe_run(spark, n: int) -> dict:
    df = materialize(_probe_vectors(spark, n))
    out: dict = {"rows": df.count()}
    w, out["train_s"] = _timed(lambda: linear_probe_train(df, rounds=2))
    _, out["predict_s"] = _timed(
        lambda: _noop(linear_probe_predict(df, w).select("vec_id", "pred"))
    )
    return out


def _probe_dim768(spark, sf_dir: str) -> dict:
    """Linear probe at a PRODUCTION embedding dimension (r13 verdict
    #3): the catalog's probe queries ride 64-dim fixtures, but real
    curation probes score 768/1024-dim embeddings, where each round's
    plan carries classes x dim weight-array literals and the
    posexplode gradient shuffle is dim-wide. Runs 2 GD rounds + a
    full predict at 768 dims x 10 classes on 10k vs 100k synthetic
    rows and a 10%-sample_ppb round pair at 100k — per-stage walls,
    the 10x ratio, and the plan-bound floor are the numbers SCALE.md
    quotes. Healthy: train ratio well under 10 at this size
    (per-round plan compile amortizes), predict ratio ~10
    (corpus-linear map)."""
    out = _scale_ratio(partial(_probe_run, spark), (2_000, 10_000, 100_000))
    # the sample_ppb knob at the larger size: 10% per round, same
    # plan shape, scan mass down 10x per round
    df = materialize(_probe_vectors(spark, 100_000))
    _, out["train_100k_sample10pct_s"] = _timed(
        lambda: linear_probe_train(
            df, rounds=2, sample_ppb=100_000_000, sample_key="vec_id"
        )
    )
    return out


def _streaming_chain(spark, sf_dir: str) -> dict:
    """The composed streaming corpus pipeline end-to-end (r14 verdict
    #1): six chained facade subscriptions over five topic handoffs
    (docs -> paragraph near-dup -> byte-BPE token meter -> featurize
    -> probe classify; docs-unique -> source tag -> drift monitor),
    the topology of examples/streaming_corpus_pipeline.py, driven on
    a synthetic 1k-doc web feed with 30% templated-banner near-dup
    paragraph mass. One timed pass = emit + run_until_idle(rounds=
    CHAIN_DEPTH) — 24 availableNow query starts, so the wall is
    dominated by per-query startup overhead (~fixed), making docs/s
    here a CHAIN-OVERHEAD gauge, not a data-rate: at production batch
    sizes the same 24 starts amortize over millions of rows."""
    ex_dir = str(Path(__file__).resolve().parent / "examples")
    if ex_dir not in sys.path:
        sys.path.insert(0, ex_dir)
    import streaming_corpus_pipeline as topo

    n_docs = 1_000
    root = Path(tempfile.mkdtemp(prefix="bench-chain-"))
    stream = Stream(spark, str(root / "broker"), state_partitions=8)
    topo.register_stages(stream)
    docs = []
    for i in range(n_docs):
        if i % 10 < 3:  # 30% banner mass, each with a distinct edit
            text = topo.banner(f"edit{i}") + "\n" + topo.content(f"w{i}")
        else:
            text = topo.content(f"w{i}") + "\n" + topo.content(f"x{i}")
        docs.append({"doc_id": f"web/{i:05d}", "text": text})
    for off in range(0, n_docs, 100):  # realistic many-file broker shape
        stream.emit("docs", *docs[off : off + 100])
    _, wall = _timed(lambda: stream.run_until_idle(rounds=topo.CHAIN_DEPTH))
    counts = {
        t: _count_lines(root / "broker" / t)
        for t in (
            "docs-unique",
            "docs-unique-tokens",
            "docs-feat",
            "docs-feat-classes",
            "docs-clean",
            "docs-clean-textclass",
        )
    }
    assert all(c == n_docs for c in counts.values()), counts
    shutil.rmtree(root, ignore_errors=True)
    return {
        "docs": n_docs,
        "stages": 7,
        "query_starts": 7 * topo.CHAIN_DEPTH,
        "wall_s": wall,
        "docs_per_s": round(n_docs / wall, 1),
    }


def _ann_recall_curve(spark, sf_dir: str) -> dict:
    """Recall-vs-nprobe curve for the persisted IVF index: the knob
    evidence an operator needs at 100 TB — the IVF index has recall
    tests at fixed probes, but choosing nprobe in production means
    reading THIS curve. Builds the index once, then sweeps nprobe
    over {1, 2, 4, 8, 16} with 8 query vectors drawn from the corpus,
    reporting recall@10 against exact cosine (with the operator's
    6-dp rounding + (cos DESC, id) ties) and the min warmed per-query
    wall.
    Ground truth is computed bench-side over the collected corpus
    (2k x 64 floats — evaluation data, not an operator path). It also
    covers the persisted-IVF serving path (partition-pruned probe
    query over the on-disk layout) at every nprobe."""
    (embeddings,) = load(spark, sf_dir, "embeddings")
    rows = embeddings.select("vec_id", "embedding").filter(
        "embedding IS NOT NULL"
    ).collect()
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(X, axis=1)
    norms[norms == 0] = 1.0
    q_ids = [int(i) for i in ids[:8]]
    queries = {qid: X[ids == qid][0] for qid in q_ids}
    true_cos: dict[int, set] = {}
    for qid, qv in queries.items():
        qn = np.linalg.norm(qv) or 1.0
        cos = (X @ qv) / (norms * qn)
        order = sorted(
            range(len(ids)), key=lambda i: (-round(float(cos[i]), 6), ids[i])
        )
        true_cos[qid] = {int(ids[i]) for i in order[:10]}

    tmp = tempfile.mkdtemp(prefix="ann-recall-")
    out: dict = {
        "n_vectors": int(len(ids)),
        "n_queries": len(q_ids),
        "k": 10,
        "k_cells": 32,
        "ivf": {},
    }
    try:
        _, out["ivf_build_s"] = _timed(
            lambda: build_ivf_index(embeddings, f"{tmp}/ivf", k=32, iters=2)
        )
        _release()
        for n_probe in (1, 2, 4, 8, 16):

            def query(qid):
                return ivf_index_topk(
                    spark,
                    f"{tmp}/ivf",
                    [float(x) for x in queries[qid]],
                    k=10,
                    n_probe=n_probe,
                ).collect()

            query(q_ids[0])  # warm-up, uncounted (plan compile + FS listing)
            hits, walls = 0, []
            for qid in q_ids:
                got, wall = _timed(lambda: query(qid))
                walls.append(wall)
                hits += len({int(r["vec_id"]) for r in got} & true_cos[qid])
            out["ivf"][str(n_probe)] = {
                "recall_at_10": round(hits / (10.0 * len(q_ids)), 3),
                "query_s": min(walls),
            }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def _ivfpq_query_only(spark, sf_dir: str) -> dict:
    """IVF-PQ with training split from serving. The catalog row
    `ann_ivfpq_topk` deliberately re-trains its codebook every
    execution so the DuckDB oracle can replay Lloyd bit-exactly —
    which makes its catalog timing a TRAIN-step wall (~97% of it), not
    the query latency a deployment sees. A 100x deployment trains
    once offline and serves from persisted artifacts, so this extra
    measures that path: train + encode + persist codebook/codes/cells
    to parquet ONCE (reported separately), then time only the
    codes-only query (coarse probe over per-cell code histograms +
    ADC scan of the probed cells, both reading the parquet artifacts)
    min-of-3 with a warm-up pass, matching the catalog methodology."""
    (embeddings,) = load(spark, sf_dir, "embeddings")
    tmp = tempfile.mkdtemp(prefix="ivfpq-serve-")

    def train_encode_persist() -> None:
        # same m/k/iters as the ann_ivfpq_topk catalog row
        cb = pq_train(embeddings, m=8, k=16, iters=2)
        enc = pq_encode(embeddings.filter(F.col("vec_id") != 0), cb)
        cb.write.mode("overwrite").parquet(f"{tmp}/codebook")
        enc.write.mode("overwrite").parquet(f"{tmp}/codes")
        embeddings.select("vec_id", "label").write.mode("overwrite").parquet(
            f"{tmp}/cells"
        )

    try:
        _, train_s = _timed(train_encode_persist)
        _release()
        # the query vector arrives with the request — not timed
        qv = (
            embeddings.filter(F.col("vec_id") == 0)
            .select(F.col("embedding").cast("array<double>"))
            .first()[0]
        )
        cb2 = spark.read.parquet(f"{tmp}/codebook")
        enc2 = spark.read.parquet(f"{tmp}/codes")
        cells2 = spark.read.parquet(f"{tmp}/cells")
        _, query_s = _timed(
            lambda: ivfpq_topk(
                enc2, cb2, cells2, qv, id_col="vec_id",
                cell_col="label", k=10, n_probe=3,
            ).collect(),
            repeats=3,
            warmup=True,
        )
        n_codes = enc2.count()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return {
        "train_encode_persist_s": train_s,
        "query_only_s": query_s,
        "n_code_rows": n_codes,
        "m": 8,
        "k_codes": 16,
        "n_probe": 3,
        "methodology": "persisted codebook/codes/cells; warmup then min-of-3",
    }


def _semdedup_100k(spark, sf_dir: str) -> dict:
    """SemDeDup at 100k vectors / dim 64 under the r7 auto-k rule
    (k=None -> ceil(n/4096)=25 clusters) with the giant-cluster
    pairing cap armed at 4x the target size. Same planted-duplicate
    generator as the 20k bench (every 5th vector an exact scaled
    copy); reports the realized max cluster size so skew is visible
    next to the wall time."""
    n = 100_000
    vecs = _md5_vectors(spark, n, scaled_copies=True)
    dropped, wall = _timed(
        lambda: semdedup(vecs, k=None, iters=2, eps=0.99, max_cluster_size=16_384)
        .filter(~F.col("keep"))
        .count()
    )
    assign, _cb = cluster_assign(vecs, k=None, iters=2)
    agg = (
        assign.groupBy("cluster")
        .count()
        .agg(F.max("count").alias("mx"), F.count(F.lit(1)).alias("k"))
        .collect()[0]
    )
    return {
        "wall_s": wall,
        "n_vectors": n,
        "k_auto": int(agg["k"]),
        "max_cluster_size_seen": int(agg["mx"]),
        "pair_cap": 16_384,
        "dropped": dropped,
    }


def _bpe_256_merges(spark, sf_dir: str) -> dict:
    """Real-vocabulary BPE training cost: 256 merges over the
    documents corpus. Training collects the word table once and
    merges driver-side, so the merge count should move the wall by
    Python time only, not by Spark jobs (the catalog's n_merges=8
    cannot show that). Training stops early when every word has
    fused, so ``merges`` can be under 256."""
    (documents,) = load(spark, sf_dir, "documents")
    merges, train_s = _timed(
        lambda: bpe_train(documents, "text", n_merges=256).count()
    )
    return {
        "train_256_s": train_s,
        "merges": merges,
        "s_per_merge": round(train_s / max(merges, 1), 4),
    }


def _incremental_admit(spark, sf_dir: str) -> dict:
    """Incremental near-dup admission (operators/dedup_index.py): the
    corpus arrives as three equal batches; each admit runs the
    within-batch component dedup plus the band join against the
    SIGNATURE index of everything admitted before — never re-mining
    earlier batches. Per-batch walls are reported so growth with
    index size is visible (the index side is signature-only and
    column-pruned, so per-batch cost should stay near-flat)."""
    (documents,) = load(spark, sf_dir, "documents")
    docs = documents.select("doc_id", "text")
    tmp = tempfile.mkdtemp(prefix="admit-idx-")
    walls, admitted = [], []
    try:
        for b in range(3):
            batch = docs.filter(F.col("doc_id") % 3 == b)
            n, wall = _timed(lambda: minhash_index_admit(batch, tmp, f"b{b}").count())
            walls.append(wall)
            admitted.append(n)
            release_caches()
        idx_rows = read_index(spark, tmp).count()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return {
        "batch_walls_s": walls,
        "admitted_per_batch": admitted,
        "index_rows_final": idx_rows,
        "n_batches": 3,
    }


def _embed_admit_100k(spark, sf_dir: str) -> dict:
    """Incremental SEMANTIC admission (operators/embed_index.py) at
    100k vectors / dim 64, arriving as four 25k batches: each admit
    signs ONCE, dedups within-batch, band-joins against the persisted
    signature index (never re-signing earlier batches), and appends
    its partition. Every 5th vector is an exact copy of its
    predecessor (md5 generator, deterministic), and consecutive ids
    always land in DIFFERENT mod-4 batches, so ~20k drops exercise
    the CROSS-index path specifically. bands=4 x band_bits=16 keys
    the band join on 65k-value buckets — ~2 rows/bucket at this n,
    the against-clustered-data shape the banding is sized for.
    Per-batch walls reported so growth with index size is visible
    (index side is signature-only; should stay near-flat)."""
    n = 100_000
    vecs = _md5_vectors(spark, n, scaled_copies=False)
    tmp = tempfile.mkdtemp(prefix="embed-idx-")
    walls, admitted = [], []
    try:
        for b in range(4):
            batch = vecs.filter(F.col("vec_id") % 4 == b)
            m, wall = _timed(
                lambda: embed_index_admit(
                    batch, tmp, f"b{b}", threshold=0.99, bands=4, band_bits=16
                ).count()
            )
            walls.append(wall)
            admitted.append(m)
            release_caches()
        idx_rows = read_index(spark, tmp).count()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return {
        "batch_walls_s": walls,
        "admitted_per_batch": admitted,
        "index_rows_final": idx_rows,
        "n_vectors": n,
        "planted_dups": 19_999,
    }


def _hot_bucket_corpus(spark, n_docs: int):
    """Planted hot-bucket corpus: 10% boilerplate (30 shared tokens +
    a unique tail — a giant LSH bucket of DISTINCT representatives,
    the exact shape `max_band_freq` exists for), 0.5% planted normal
    near-dup pairs (one-token edit of a neighbour, bucket occupancy
    ~2), rest unique. Deterministic JVM-side generation."""
    return spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.expr(
            """CASE
                 WHEN id % 10 = 0 THEN
                   concat(concat_ws(' ', transform(sequence(1, 30),
                     j -> concat('b', j))), ' u', id)
                 WHEN id % 200 = 101 THEN
                   concat_ws(' ', transform(sequence(1, 30),
                     j -> IF(j = 7, concat('edit', id),
                             concat('w', pmod(hash(id - 100, j), 100000)))))
                 ELSE
                   concat_ws(' ', transform(sequence(1, 30),
                     j -> concat('w', pmod(hash(id, j), 100000))))
               END"""
        ).alias("text"),
    )


def _hot_bucket_cap(spark, sf_dir: str) -> dict:
    """The `max_band_freq` recommendation, measured (SCALE.md
    "Hot-bucket cap"): MinHash-LSH pair mining over the planted
    10%-boilerplate corpus, uncapped vs the recommended cap of 256.
    The invariant that justifies the recommendation is recall
    NEUTRALITY: planted normal-pair recall must be IDENTICAL in both
    regimes (their buckets hold ~2 docs; only the boilerplate
    bucket's quadratic pair mass is refused)."""
    n = 10_000
    docs = _hot_bucket_corpus(spark, n).persist()
    docs.count()
    planted = {(i - 100, i) for i in range(101, n, 200)}
    out: dict = {"n_docs": n, "boilerplate_frac": 0.1, "planted": len(planted)}
    for label, cap in (("uncapped", None), ("cap_256", 256)):
        got, wall = _timed(
            lambda: {
                (r["doc_a"], r["doc_b"])
                for r in minhash_lsh_pairs(
                    docs, "doc_id", "text", num_hashes=16, bands=4,
                    threshold=0.5, max_band_freq=cap,
                ).collect()
            }
        )
        out[label] = {
            "wall_s": wall,
            "pairs": len(got),
            "planted_recall": round(len(got & planted) / len(planted), 3),
        }
        release_caches()
    out["recall_neutral"] = (
        out["uncapped"]["planted_recall"] == out["cap_256"]["planted_recall"]
    )
    return out


def _zipf_docs(spark, n_docs: int, *, vocab: int = 50_000, seed: int = 41):
    """Deterministic Zipf-vocabulary document corpus, generated
    JVM-side (no Python in the loop).

    The synthetic documents.parquet has a ~931-distinct-shingle
    alphabet, which makes EVERY token hot and every inverted-index /
    prefix-filter bench pathological (SCALE.md dense-regime note).
    Real web text is Zipf: token rank r has frequency ~ 1/r. Sampled
    here by inverse-CDF of the harmonic distribution — u uniform in
    [0,1) from a (seed, doc, position) hash, rank = floor(exp(u *
    ln(V))) gives p(rank) ~ 1/rank over V ranks. ~2% of docs are
    near-duplicates of a neighbour (same token stream, one position
    re-seeded) so similarity benches have true pairs to find."""
    n_tokens = 120
    base = spark.range(n_docs).select(
        F.col("id").alias("_doc"),
        # near-dup pairs: doc 50k+1 clones doc 50k's token stream
        F.when(
            (F.col("id") % 50 == 1) & (F.col("id") > 0), F.col("id") - 1
        )
        .otherwise(F.col("id"))
        .alias("_src"),
        (F.col("id") % 50 == 1).cast("int").alias("_edit"),
    )
    u = (
        F.pmod(
            F.xxhash64(F.lit(seed), F.col("_src"), F.col("i")), F.lit(1_000_003)
        ).cast("double")
        / 1_000_003.0
    )
    rank = F.floor(F.exp(u * math.log(vocab))).cast("int")
    tok = F.concat(F.lit("w"), rank.cast("string"))
    # the edited copy swaps ONE position for a doc-unique token
    tok = F.when(
        (F.col("_edit") == 1) & (F.col("i") == 7),
        F.concat(F.lit("edit"), F.col("_doc").cast("string")),
    ).otherwise(tok)
    return (
        base.select(
            "_doc",
            "_src",
            "_edit",
            F.explode(F.sequence(F.lit(0), F.lit(n_tokens - 1))).alias("i"),
        )
        .select("_doc", F.struct("i", tok.alias("_tok")).alias("_p"))
        .groupBy("_doc")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("_p")), lambda p: p["_tok"]
                ),
                " ",
            ).alias("text")
        )
        .select(F.col("_doc").cast("string").alias("doc_id"), "text")
    )


def _zipf_text(spark, sf_dir: str) -> dict:
    """The text-family benches on a REALISTIC (Zipf) vocabulary AND
    on a matched-size slice of the dense-alphabet synthetic corpus
    (documents.parquet, ~931 distinct shingles — every token hot).
    One dict per corpus regime, same four operators (set-similarity
    join, tf-idf, BM25, MinHash-LSH pair mining), so every
    text-family catalog timing has a realistic-vocabulary
    counterpart and dense-regime pathology is visible as such
    (r8 finding: half of setsim_pairs' cost was the corpus, not the
    plan)."""

    def run(build) -> float:
        # min of 2; each pass releases the subplans its operator
        # cached, so the second pass cannot read the first's cache
        return _timed(lambda: (_noop(build()), release_caches()), repeats=2)[1]

    def family(docs, query: str, *, count_pairs: bool) -> dict:
        docs.persist()
        out = {
            "n_docs": docs.count(),
            "setsim_join_s": run(lambda: setsim_join(docs, threshold=0.6)),
            "tfidf_topk_s": run(lambda: tfidf_topk(docs, query, k=10)),
            "bm25_topk_s": run(lambda: bm25_topk(docs, query, k=10)),
            "minhash_lsh_pairs_s": run(
                lambda: minhash_lsh_pairs(
                    docs, "doc_id", "text", num_hashes=16, bands=4, threshold=0.5
                )
            ),
        }
        if count_pairs:
            # recall check (the Zipf corpus PLANTS 100 pairs); the
            # dense slice's pair mass is already characterized in
            # SCALE.md — skip its third 40 s join execution
            out["setsim_true_pairs"] = setsim_join(docs, threshold=0.6).count()
            release_caches()
        docs.unpersist()
        return out

    zipf = family(_zipf_docs(spark, 5_000), "w1 w2 w17", count_pairs=True)
    zipf["vocab"] = 50_000
    # query terms must exist in each corpus's vocabulary (bm25's idf
    # map is |query-terms|-sized; an all-miss query is degenerate)
    dense = family(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(F.col("doc_id").cast("string").alias("doc_id"), "text")
        .orderBy("doc_id")
        .limit(5_000),
        "spark window merge",
        count_pairs=False,
    )
    return {"zipf": zipf, "dense_matched": dense}


#: The extra measurements, run in this order after the catalog pass:
#: (name in the JSON record, builder, scales). A builder with
#: ``scales=None`` is called as ``builder(spark, sf_dir)``; otherwise
#: ``_scale_ratio`` calls ``builder(spark, n)`` at the (warm-up, 1x,
#: 10x) sizes. The catalog at sf0.1 cannot price the heavy-tail
#: queries' scaling (every 8v32-core ratio <= 1.2 there), so the
#: ratio rows run them on 10x corpora; corpus_decontaminate's ratio is
#: corpus_pipeline_10x's "decontaminate" stage.
EXTRAS = (
    ("skew_join", _skew_join, None),
    ("ivf_dim256", _ivf_dim256, None),
    ("lsh_dim1024", _lsh_dim1024, None),
    ("components_200k_edges", _components_200k, None),
    ("corpus_pipeline", _corpus_pipeline, None),
    ("corpus_pipeline_10x", _corpus_pipeline_10x, (2_000, 10_000, 100_000)),
    ("ivfpq_query_only", _ivfpq_query_only, None),
    ("semdedup_20k", _semdedup_20k, None),
    ("bpe_256_merges", _bpe_256_merges, None),
    ("semdedup_100k", _semdedup_100k, None),
    ("incremental_admit", _incremental_admit, None),
    ("embed_admit_100k", _embed_admit_100k, None),
    ("zipf_text", _zipf_text, None),
    ("hot_bucket_cap", _hot_bucket_cap, None),
    ("unigram_zipf", _unigram_zipf, (2_000, 10_000, 100_000)),
    ("wordpiece_zipf", _wordpiece_zipf, (2_000, 10_000, 100_000)),
    ("probe_dim768", _probe_dim768, None),
    ("streaming_chain", _streaming_chain, None),
    ("ann_recall_curve", _ann_recall_curve, None),
    ("charclf_zipf", _charclf_zipf, (2_000, 10_000, 100_000)),
    ("spans_ratio", _spans_ratio, (2_000, 10_000, 100_000)),
    ("setsim_ratio", _setsim_ratio, (1_000, 5_000, 50_000)),
    ("lm_backoff_ratio", _lm_backoff_ratio, (2_000, 10_000, 100_000)),
    ("pq_ratio", _pq_ratio, (2_000, 10_000, 100_000)),
)


if __name__ == "__main__":
    main()
