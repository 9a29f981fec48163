"""Per-layer metrics of a traced run, from its spans and Spark's event log.

Layer names are the engine's module names. Which end-to-end metric each one
should move, and on which workload, is tabled in README.md.
"""

from __future__ import annotations

import statistics

from .eventlog import COUNTERS


def span_counters(by_desc: dict) -> dict[tuple[str, int], dict]:
    """Event-log counters keyed by (tracer tag, span id), parsed back from
    the "<tag>:<name> #<id>" job descriptions the tracer set."""
    out = {}
    for desc, c in by_desc.items():
        head, sep, sid = desc.rpartition(" #")
        if sep and ":" in head and sid.isdigit():
            out[(head.split(":", 1)[0], int(sid))] = c
    return out


def _sum(cmap, tag, ids) -> dict:
    total = dict.fromkeys(COUNTERS, 0.0)
    for i in ids:
        for k, v in cmap.get((tag, i), {}).items():
            total[k] += v
    return total


def _med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _div(a: float, b: float) -> float:
    return a / b if b else 0.0


def layer_metrics(crawl: bool, T, R, cmap, setup: dict, urls_per_s: float,
                  peak_rss_mb: float) -> dict:
    """``T`` traced the measured work (every crawl of a crawl workload, or
    every mega-round plus the state set-up wrote). ``R`` traced one
    materialized round whose public calls ran one at a time: the replayed
    crawl round, or the mega-rounds themselves (``R is T``)."""
    n_rounds = len(T.durations("frontier.round"))
    units = len(T.durations("driver.crawl")) if crawl else n_rounds
    store_units = units if crawl else 1  # mega: the state set-up wrote once
    # (reads happen every round, so checkpoint.read_s is per unit on both)
    split = len(R.durations("frontier.round"))
    rc, tc = R.counts, T.counts

    round_c = _sum(cmap, T.tag, T.subtree("frontier.round"))
    measured = T.subtree("driver.crawl") if crawl else T.subtree("frontier.round")
    spark_c = _sum(cmap, T.tag, measured)
    rank_ids = {s["id"] for s in T.spans if s["name"] == "ranking.rank"}
    bytes_written = sum(v for k, v in tc.items()
                        if k.startswith("checkpoint.bytes_written."))
    shard_bytes = (tc.get("checkpoint.bytes_written.shards", 0)
                   + tc.get("checkpoint.bytes_written.shards_delta", 0))
    rows_in, selected = rc.get("politeness.rows_in", 0), rc.get("politeness.selected", 0)
    cands, hits = rc.get("dedup.candidates", 0), rc.get("bloom.exact_hits", 0)

    m = {
        "frontier.round_s": _med(T.durations("frontier.round")),
        "frontier.round_self_s": _med(T.self_times("frontier.round")),
        "frontier.rounds": _div(n_rounds, units),
        "spark.jobs_per_round": _div(round_c["jobs"], n_rounds),
        "spark.stages_per_round": _div(round_c["stages"], n_rounds),
        "checkpoint.write_s": _div(T.total("checkpoint.write"), store_units),
        "checkpoint.commit_s": _div(T.total("checkpoint.commit"), store_units),
        "checkpoint.read_s": _div(T.total("checkpoint.read"), units),
        "checkpoint.compact_s": _div(T.total("checkpoint.compact"), store_units),
        "checkpoint.bytes_written": _div(bytes_written, store_units),
        "checkpoint.files_written": _div(tc.get("checkpoint.files_written", 0), store_units),
        "checkpoint.compactions": _div(tc.get("checkpoint.compactions", 0), store_units),
        "politeness.select_s": _med(R.durations("politeness.select")),
        "politeness.rows_in": _div(rows_in, split),
        "politeness.selected": _div(selected, split),
        "politeness.deferred_frac": 1.0 - _div(selected, rows_in),
        "politeness.python_nodes": _div(rc.get("politeness.python_nodes", 0), split),
        "ranking.rank_s": _med(T.durations("ranking.rank")),
        "ranking.jobs": _div(_sum(cmap, T.tag, rank_ids)["jobs"], len(rank_ids)),
        "extract.fetch_extract_s": _med(R.durations("extract.fetch_extract")),
        "extract.pages_fetched": _div(rc.get("extract.pages_fetched", 0), split),
        "extract.html_bytes": _div(rc.get("extract.html_bytes", 0), split),
        "extract.links_out": _div(rc.get("extract.links_out", 0), split),
        "extract.fetch_fail_frac": 1.0 - _div(rc.get("extract.pages_fetched", 0),
                                              rc.get("extract.fetch_attempts", 0)),
        "bloom.probe_s": _med(R.durations("bloom.probe")),
        "bloom.shard_map_s": _med(T.durations("bloom.shard_map")),
        "bloom.build_s": _div(T.total("checkpoint.write.shards")
                              + T.total("checkpoint.write.shards_delta"), store_units),
        "bloom.shard_bytes": _div(shard_bytes, store_units),
        "bloom.positives": _div(rc.get("bloom.positives", 0), split),
        "bloom.fp_rate": _div(rc.get("bloom.positives", 0) - hits, cands - hits),
        "bloom.python_nodes": _div(rc.get("bloom.python_nodes", 0), split),
        "dedup.admit_s": _med(R.durations("dedup.admit")),
        "dedup.candidates": _div(cands, split),
        "dedup.admitted": _div(rc.get("dedup.admitted", 0), split),
        "dedup.admit_frac": _div(rc.get("dedup.admitted", 0), cands),
        "session.start_s": setup["session.start_s"],
        "synth.generate_s": setup["synth.generate_s"],
        "warmup_s": setup["warmup_s"],
        "trace.urls_per_s": urls_per_s,
        "peak_rss_mb": peak_rss_mb,
    }
    for k in COUNTERS:
        m[f"spark.{k}"] = _div(spark_c[k], units)
    return m


def span_table(T, cmap) -> dict:
    """{span name: calls, total seconds, Spark counters} for the report."""
    out: dict[str, dict] = {}
    for s in T.spans:
        row = out.setdefault(s["name"], {"calls": 0, "s": 0.0,
                                         **dict.fromkeys(COUNTERS, 0.0)})
        row["calls"] += 1
        row["s"] += s["end"] - s["start"]
        for k, v in cmap.get((T.tag, s["id"]), {}).items():
            row[k] += v
    return out
