"""The benchmark's workloads, driven through the engine's public API.

``crawl_polite`` runs ``plans.driver.crawl`` a round at a time.
``schedule_mega`` runs one scheduling round over every directory URL at
once against round state that set-up wrote through ``RoundStore``: the
engine's own per-depth dataflow in untraced runs (``engine_round``), and
the same round composed from its public ``operators.*`` /
``functions.extract`` calls, one materialized call at a time, in traced
runs (``schedule_round``).

Every workload returns plain dicts; ``run.py`` turns them into metrics.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import inputs, trace
from .measure import PeakRss, round_latencies, tree_bytes
from .trace import Tracer

# The bloom spec `python -m graven_spark crawl` builds from its default
# --bloom-buckets 32 --bloom-bits 2^21 (7 hashes).
CLI_BLOOM = dict(n_buckets=32, bits_per_shard=1 << 21)

PY_NODES = ("FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "ArrowEvalPython",
            "BatchEvalPython", "MapInPandas", "MapInArrow")


def cli_crawl_config(**overrides):
    """The CrawlConfig the CLI's `crawl` command builds from its default
    flags (--bloom-buckets 32 --bloom-bits 2^21 --seen-buckets 32
    --batch-threshold 0 --batch-max 16, no budget override)."""
    from graven_spark.operators.bloom import BloomSpec
    from graven_spark.plans.frontier import CrawlConfig

    kw = dict(use_bloom=True, bloom=BloomSpec(**CLI_BLOOM), max_rounds=1000,
              max_retries=0, jar_limit=None, delay_window_s=None,
              normalize_urls=False, dedup_content=False, seen_buckets=32,
              update_domains=[], update_url_prefix=None, batch_threshold=0,
              max_batch_rounds=16)
    kw.update(overrides)
    return CrawlConfig(**kw)


def python_nodes(df: DataFrame) -> int:
    """Python-worker operators in ``df``'s physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(plan.count(n) for n in PY_NODES)


def fingerprint(df: DataFrame) -> tuple:
    """(rows, two order-independent 64-bit digests of (url, priority)) —
    one aggregate, so computing it is the action that runs the round."""
    r = df.agg(
        F.count("*").alias("n"),
        F.sum(F.pmod(F.xxhash64("url", "priority"), F.lit(1 << 31))).alias("s"),
        F.bit_xor(F.xxhash64(F.lit("fp"), "url")).alias("x"),
    ).first()
    return int(r["n"]), int(r["s"] or 0), int(r["x"] or 0)


# -- one scheduling round, composed from public calls -------------------------

@dataclass
class RoundState:
    frontier: DataFrame
    seen_parts: list
    shards: DataFrame
    priority_base: int
    size_hint: int | None  # None: always the analytic rank path


def round_candidates(spark, pages_path, robots, st: RoundState, ranked: DataFrame):
    """Fetch join + extract_links + link explode + robots gate: the
    candidate URLs a round discovers, built as frontier._round_dataflow
    builds them with the CLI defaults (no --normalize-urls, no
    --dedup-content). Traced runs only; their output check compares the
    admitted set with ``engine_round``'s, so a drift from the engine fails."""
    from graven_spark.core import PRIORITY_STRIDE
    from graven_spark.functions.canon import host_of
    from graven_spark.functions.extract import extract_links
    from graven_spark.operators.politeness import gate_robots

    pages = spark.read.parquet(pages_path).select("url", "html")
    fetched = (
        pages.join(F.broadcast(ranked), "url", "inner")
        .withColumn("page_bytes", F.length("html").cast("long"))
        .withColumn("ext", extract_links(F.col("html")))
        .drop("html")
    )

    def cands(fetched_df):
        links = fetched_df.select(
            F.col("url").alias("parent_url"), F.col("depth").alias("parent_depth"),
            "fifo_rank",
            F.posexplode(F.col("ext.links")).alias("discovery_idx", "link"),
        )
        cand = links.select(
            F.concat(F.col("parent_url"), F.col("link.href")).alias("url"),
            (F.col("parent_depth") + 1).alias("depth"),
            (F.lit(st.priority_base) + F.col("fifo_rank") * F.lit(PRIORITY_STRIDE)
             + F.col("discovery_idx")).alias("priority"),
            "parent_url", F.col("discovery_idx").cast("int"),
            F.col("link.is_dir").alias("is_dir"), F.col("link.ts_str").alias("ts_str"),
        ).withColumn("host", host_of(F.col("url")))
        return gate_robots(cand, robots)

    return fetched, cands


def schedule_round(spark, pages_path, robots, cfg, st: RoundState, tr) -> tuple:
    """One scheduling round composed from public calls, each output
    persisted and counted before the next call consumes it, so each span
    holds that layer's own work: politeness select → global rank → fetch
    join + extract_links → Bloom probe + admit_new. Records per-layer
    counts on ``tr`` and returns the admitted set's fingerprint."""
    from graven_spark.operators.bloom import broadcast_shard_map, probe
    from graven_spark.operators.dedup import admit_new
    from graven_spark.operators.politeness import select_round
    from graven_spark.plans import frontier as fr

    pinned: list[DataFrame] = []
    bcs: list = []

    def pin(df):
        df = df.persist()
        pinned.append(df)
        return df

    try:
        with tr.span("frontier.round"):
            with tr.span("bloom.shard_map"):
                shard_bc = broadcast_shard_map(st.shards, track=bcs)
            with tr.span("politeness.select"):
                flagged = select_round(st.frontier, robots, cfg.default_budget,
                                       cfg.n_salts, delay_window_s=cfg.delay_window_s)
                tr.add("politeness.python_nodes", python_nodes(flagged))
                flagged = pin(flagged)
                r = flagged.agg(F.count("*").alias("n"),
                                F.sum(F.col("selected").cast("long")).alias("s")).first()
                tr.add("politeness.rows_in", r["n"])
                tr.add("politeness.selected", r["s"] or 0)
                selected = flagged.filter(F.col("selected")).drop("selected")
            with tr.span("ranking.rank"):
                ranked, n_sel, rank_pin = fr.with_global_rank(
                    selected, "priority", "fifo_rank", size_hint=st.size_hint)
                pinned.append(rank_pin)
                ranked = pin(ranked)
                ranked.count()
            with tr.span("extract.fetch_extract"):
                fetched, cands = round_candidates(spark, pages_path, robots, st, ranked)
                fetched = pin(fetched)
                r = fetched.agg(
                    F.count("*").alias("n"), F.sum("page_bytes").alias("b"),
                    F.sum(F.size("ext.links")).alias("l"),
                    F.sum(F.col("ext.parse_failed").cast("long")).alias("pf"),
                ).first()
                tr.add("extract.pages_fetched", r["n"])
                tr.add("extract.html_bytes", r["b"] or 0)
                tr.add("extract.links_out", r["l"] or 0)
                tr.add("extract.parse_failed", r["pf"] or 0)
                tr.add("extract.fetch_attempts", n_sel)
                cand = pin(cands(fetched))
                tr.add("dedup.candidates", cand.count())
            with tr.span("bloom.probe"):
                probed = probe(cand, st.shards, cfg.bloom, shard_bc=shard_bc)
                tr.add("bloom.python_nodes", python_nodes(probed) - python_nodes(cand))
                probed = pin(probed)
                tr.add("bloom.positives", probed.filter("maybe_seen").count())
            with tr.span("bloom.fp_check"):
                hits = 0
                for part in st.seen_parts:
                    hits += cand.join(part.select("url"), "url", "left_semi").count()
                tr.add("bloom.exact_hits", hits)
            with tr.span("dedup.admit"):
                new = admit_new(cand, st.seen_parts, st.shards, cfg.bloom,
                                broadcast_limit=cfg.bloom_broadcast_limit,
                                track=bcs, dedup_first=True, shard_bc=shard_bc)
                fp = fingerprint(new)
            tr.add("dedup.admitted", fp[0])
        return fp
    finally:
        for df in pinned:
            df.unpersist()
        for bc in bcs:
            bc.destroy()


def engine_round(spark, pages_path, robots, cfg, st: RoundState, k: int,
                 shards) -> tuple:
    """One round through the engine's own per-depth dataflow
    (``frontier._round_dataflow``, called as ``run_round`` calls it for an
    unbatched depth, with the Bloom shard map broadcast the same way) and
    the admitted set's fingerprint. Nothing is written to the store.
    ``shards=None`` admits exactly, without the Bloom filter: the output
    check's expected value."""
    from graven_spark.operators.bloom import broadcast_shard_map
    from graven_spark.plans import frontier as fr

    bcs: list = []
    flow = None
    try:
        shard_bc = None
        if (shards is not None and cfg.bloom.n_buckets * cfg.bloom.shard_nbytes
                <= cfg.bloom_broadcast_limit):
            shard_bc = broadcast_shard_map(shards, track=bcs)
        flow = fr._round_dataflow(
            spark, pages_path, robots, cfg, k, st.priority_base, st.frontier,
            st.seen_parts, shards, bcs, batch_deltas=[], shard_bc=shard_bc,
            frontier_rows=st.size_hint)
        return fingerprint(flow.new)
    finally:
        for df in flow.persisted if flow is not None else []:
            if df is not None:
                df.unpersist()
        for bc in bcs:
            bc.destroy()


# -- crawl_polite ------------------------------------------------------------

# Host 0 is the only host with directories: its root links 80, and its
# robots budget lets 16 through a round. Every other host is a root page of
# leaf links. Round 0 fetches every root. Each of rounds 1-4 fetches the
# next 16 of host 0's directories in link order and their leaves, and
# defers the rest: those rounds exist only because of the budget. Every
# 8th directory is a dead link and robots disallow one seed-chosen
# directory among the last 16, so each of rounds 1-4 fetches 14 live
# directories and admits the same number of URLs on every seed. Rounds 0
# and 1 are the warm-up; the first rounds of a fresh JVM are the slowest
# and vary the most.
CRAWL_SHAPE = inputs.GraphShape(n_hosts=48, depth=0, fanout=1, leaf_fanout=40,
                                skew_depth=1, skew_fanout=80, skew_budget=16,
                                budget=1 << 20, disallow_every=0,
                                skew_dead_dir_every=8, skew_disallow_from=64)
WARM_ROUNDS = 2
CRAWL_ROUNDS = (1, 3)  # fewest and most measured rounds of one run


@dataclass
class Ctx:
    spark: object
    work: str  # scratch directory inside the checkout
    seed: int
    seconds: float
    tracer: Tracer  # enabled only in traced runs
    setup: dict  # name -> seconds, set-up phases
    info: dict  # settings and sizes for the report


def _read_inputs(spark, paths):
    """Seeds and robots as the CLI's --seeds/--robots read parquet."""
    seeds = spark.read.parquet(paths["seeds"]).select("seed_rank", "url")
    robots = spark.read.parquet(paths["robots"])  # as the CLI's --robots reads it
    return seeds, robots


def check_crawl(spark, out, ora, ora_next) -> list[str]:
    """Mismatches between a crawl and the oracle run for as many rounds.
    ``ora_next`` ran one round more: its last frontier snapshot is the
    frontier the crawl must have left, with every deferred URL's priority."""
    errs = []
    if out.final_round != len(ora.frontier_snapshots):
        errs.append(f"rounds {out.final_round} != {len(ora.frontier_snapshots)}")
    left = {(r.url, r.priority) for r in
            out.store.read_frontier(spark, out.final_round).select("url", "priority").collect()}
    snaps = ora_next.frontier_snapshots[out.final_round:]
    if left != {(r.url, r.priority) for r in (snaps[0] if snaps else [])}:
        errs.append(f"frontier left differs ({len(left)} rows)")
    seen = {r.url for r in out.seen(spark).select("url").collect()}
    if seen != ora.seen:
        errs.append(f"seen set differs ({len(seen)} vs {len(ora.seen)})")
    res = {r.url for r in out.results(spark).select("url").collect()}
    if res != {r["url"] for r in ora.results}:
        errs.append(f"result urls differ ({len(res)} vs {len(ora.results)})")
    n_err = out.errors(spark).count()
    if n_err != len(ora.errors):
        errs.append(f"error rows {n_err} != {len(ora.errors)}")
    return errs


def round_admitted(spark, store, rounds) -> list[int]:
    """Rows of each committed round's seen delta: the URLs it admitted."""
    return [spark.read.parquet(os.path.join(store.round_dir(k), "seen_delta")).count()
            for k in rounds]


def crawl_polite(ctx: Ctx, jvm_pid: int) -> dict:
    """Set-up runs the crawl's first WARM_ROUNDS rounds (init + rounds 0
    and 1, cold) as the warm-up. The measured operation is ``crawl()``
    resuming that state for one more round (``max_rounds``, the CLI's
    --max-rounds), repeated while another round would end within
    ``ctx.seconds`` if it took as long as the last one, for CRAWL_ROUNDS
    rounds. The crawl is then checked against the oracle run for as many
    rounds."""
    from graven_spark.plans.driver import crawl
    from graven_spark.sources.checkpoint import RoundStore

    spark = ctx.spark
    t = time.perf_counter()
    graph = inputs.build_graph(CRAWL_SHAPE, ctx.seed)
    paths = inputs.write_inputs(graph, os.path.join(ctx.work, "inputs"))
    seeds, robots = _read_inputs(spark, paths)
    ctx.setup["synth.generate_s"] = time.perf_counter() - t
    ctx.info["inputs"] = inputs.input_sizes(graph)
    ctx.info["crawl_config"] = repr(cli_crawl_config(max_rounds=WARM_ROUNDS + 1))
    state = os.path.join(ctx.work, "state")

    t = time.perf_counter()
    crawl(spark, paths["pages"], seeds, robots, state,
          cli_crawl_config(max_rounds=WARM_ROUNDS))
    ctx.setup["warmup_s"] = time.perf_counter() - t

    tr = ctx.tracer
    runs, failed, errors = [], 0, []
    lo, hi = CRAWL_ROUNDS
    with PeakRss(jvm_pid, enabled=tr.enabled) as rss:
        try:
            start = time.time()
            with trace.patched(trace.crawl_targets(tr) if tr.enabled else []), \
                    tr.recording(), tr.span("driver.crawl"):
                n = WARM_ROUNDS
                while n < WARM_ROUNDS + hi:
                    t = time.time()
                    n += 1
                    cfg = cli_crawl_config(max_rounds=n)
                    out = crawl(spark, paths["pages"], seeds, robots, state, cfg)
                    now = time.time()
                    if out.final_round < n:  # the frontier ran dry
                        break
                    if n - WARM_ROUNDS >= lo and now - start + now - t > ctx.seconds:
                        break
            wall = time.time() - start
            # untimed, not part of set-up
            ora, ora_next = (inputs.run_oracle(graph, r)
                             for r in (out.final_round, out.final_round + 1))
            errors = check_crawl(spark, out, ora, ora_next)
            store = RoundStore(state)
            measured = [k for k in store.committed_rounds() if k > WARM_ROUNDS]
            # the first resumed round starts when crawl() is first called
            lat = round_latencies(state, since=start)
            if len(lat) != len(measured) or len(measured) < lo:
                errors.append(f"{len(lat)} commit markers for rounds {measured}")
        except Exception as e:  # a crashed run counts as failed
            errors = [f"{type(e).__name__}: {e}"]
    if errors:
        failed = 1
    else:
        admitted = round_admitted(spark, store, measured)
        runs.append({
            "wall_s": wall, "urls": sum(admitted), "seen": out.seen(spark).count(),
            "rounds": out.final_round, "round_s": lat, "round_urls": admitted,
            "state_bytes": tree_bytes(state)[0],
        })
    res = {"runs": runs, "attempted": 1, "failed": failed, "errors": errors,
           "peak_rss": rss.peak, "split": tr}
    if tr.enabled and runs:
        # the per-layer split of the last measured round (traced runs only)
        res["split"] = Tracer(spark.sparkContext, tag="replay")
        with res["split"].recording():
            rep = replay_round(spark, paths, robots, cfg, state, res["split"])
        res["replay"] = rep
        res["attempted"] += 1
        if rep["admitted"] != rep["committed"]:
            res["failed"] += 1
            res["errors"].append(f"replayed round {rep}")
    return res


def replay_round(spark, paths, robots, cfg, state_dir, tr) -> dict:
    """Re-run the crawl's last round as one materialized schedule_round
    (traced runs only, after the timed crawl), so the measured round shows
    its per-layer split. The admitted count must equal the seen delta that
    round committed."""
    from graven_spark.sources.checkpoint import RoundStore

    store = RoundStore(state_dir, compact_every=cfg.compact_every,
                       seen_buckets=cfg.seen_buckets)
    k = store.latest_round() - 1
    meta = store.meta(k)
    st = RoundState(
        frontier=store.read_frontier(spark, k),
        seen_parts=[p for p in (store.read_seen_base(spark, k),
                                store.read_seen_deltas(spark, k)) if p is not None],
        shards=store.read_shards(spark, k),
        priority_base=meta.priority_base, size_hint=meta.frontier_count,
    )
    n, _s, _x = schedule_round(spark, paths["pages"], robots, cfg, st, tr)
    committed, = round_admitted(spark, store, [k + 1])
    return {"round": k, "admitted": n, "committed": committed}


# -- schedule_mega -----------------------------------------------------------

MEGA_SHAPE = inputs.GraphShape(n_hosts=32, depth=3, fanout=5, leaf_fanout=3,
                               skew_depth=4, skew_fanout=7, skew_budget=1 << 20,
                               budget=1 << 20, disallow_every=4)
MEGA_MIN_ROUNDS = 2  # measured rounds, after the two warm-up rounds


def prepare_mega_state(spark, pages_path, n_frontier, state_dir, cfg):
    """Round state for the mega-round, written through RoundStore at round
    k = ``cfg.compact_every``: the frontier is every directory URL; the
    seen set is ~30% of all URLs, written as two seen deltas that the
    store's own compaction (``maybe_compact_seen``) merges into the
    bucketed seen_full base of round k; the Bloom shards cover it."""
    from graven_spark.core import SEED_PRIORITY_BASE
    from graven_spark.functions.canon import host_of, url_hash
    from graven_spark.operators.bloom import build_shards
    from graven_spark.plans.frontier import _meta_bloom
    from graven_spark.sources.checkpoint import RoundMeta, RoundStore

    k = cfg.compact_every
    store = RoundStore(state_dir, compact_every=cfg.compact_every,
                       seen_buckets=cfg.seen_buckets)
    pages = spark.read.parquet(pages_path).select("url")
    frontier = pages.filter(F.col("url").endswith("/")).select(
        "url", host_of(F.col("url")).alias("host"), F.lit(0).alias("depth"),
        url_hash(F.col("url")).alias("priority"),
        F.lit(None).cast("string").alias("parent_url"),
        F.lit(0).alias("discovery_idx"), F.lit(0).alias("retry_count"),
    )
    seen = pages.filter(F.pmod(F.xxhash64("url"), F.lit(10)) < 3).select(
        url_hash(F.col("url")).alias("url_hash"), "url")
    store.write(k, "frontier", frontier)
    for j in range(2):  # the deltas of rounds k-1 and k
        store.write(k - j, "seen_delta",
                    seen.filter(F.pmod(F.col("url_hash"), F.lit(2)) == j))
    store.write(k, "shards", build_shards(seen, cfg.bloom))
    store.commit(k, RoundMeta(round=k, priority_base=SEED_PRIORITY_BASE,
                              frontier_count=n_frontier,
                              seen_buckets=cfg.seen_buckets, **_meta_bloom(cfg)))
    if not store.maybe_compact_seen(spark, k):
        raise RuntimeError(f"round {k}: the store did not compact the seen set")
    return store


def mega_state(spark, store, k: int) -> RoundState:
    return RoundState(frontier=store.read_frontier(spark, k),
                      seen_parts=[store.read_seen_base(spark, k)],
                      shards=store.read_shards(spark, k),
                      priority_base=store.meta(k).priority_base, size_hint=None)


def schedule_mega(ctx: Ctx, jvm_pid: int) -> dict:
    """Set-up writes the round state, then runs the warm-up rounds; the
    measured rounds repeat for ``ctx.seconds``. Untraced runs time the
    engine's round (``engine_round``); traced runs time the materialized
    ``schedule_round`` and record the store calls of set-up and of the
    measured rounds. Every round's admitted set must equal the exact,
    Bloom-free one."""
    tr = ctx.tracer
    with trace.patched(trace.store_targets(tr) if tr.enabled else []):
        return _schedule_mega(ctx, jvm_pid)


def _schedule_mega(ctx: Ctx, jvm_pid: int) -> dict:
    spark = ctx.spark
    t = time.perf_counter()
    graph = inputs.build_graph(MEGA_SHAPE, ctx.seed)
    paths = inputs.write_inputs(graph, os.path.join(ctx.work, "inputs"))
    ctx.info["inputs"] = inputs.input_sizes(graph)
    del graph
    robots = spark.read.parquet(paths["robots"])  # as the CLI's --robots reads it
    ctx.setup["synth.generate_s"] = time.perf_counter() - t
    cfg = cli_crawl_config()
    ctx.info["crawl_config"] = repr(cfg)
    pages = paths["pages"]

    tr = ctx.tracer
    t = time.perf_counter()
    with tr.recording(), tr.span("frontier.init"):
        store = prepare_mega_state(spark, pages, ctx.info["inputs"]["dir_pages"],
                                   os.path.join(ctx.work, "state"), cfg)
    ctx.setup["state_prep_s"] = time.perf_counter() - t
    k = store.latest_round()
    n_seen = store.read_seen(spark, k).count()
    ctx.info["inputs"]["seen_rows"] = n_seen

    def engine(with_bloom: bool = True):
        st = mega_state(spark, store, k)
        return engine_round(spark, pages, robots, cfg, st, k,
                            st.shards if with_bloom else None)

    # The warm-up is the exact, Bloom-free round, whose admitted set is the
    # expected output of every later round, and then one Bloom round: the
    # first rounds of a fresh JVM are the slowest and vary the most.
    t = time.perf_counter()
    exact = engine(with_bloom=False)
    warm = engine()
    ctx.setup["warmup_s"] = time.perf_counter() - t
    # the warm-up Bloom round is checked too, and counts as attempted
    errors = [] if warm == exact else [f"warm-up admitted {warm} != exact {exact}"]
    runs, attempted, failed = [], 1, len(errors)

    # A round starts while it would end within --seconds if it took as long
    # as the last one, and at least MEGA_MIN_ROUNDS rounds run.
    start, last_s = time.perf_counter(), 0.0
    with PeakRss(jvm_pid, enabled=tr.enabled) as rss:
        while (attempted < 1 + MEGA_MIN_ROUNDS
               or time.perf_counter() - start + last_s <= ctx.seconds):
            attempted += 1
            t = time.perf_counter()
            try:
                if tr.enabled:
                    with tr.recording():
                        got = schedule_round(spark, pages, robots, cfg,
                                             mega_state(spark, store, k), tr)
                else:
                    got = engine()
            except Exception as e:  # a crashed run counts as failed
                got = f"{type(e).__name__}: {e}"
            last_s = time.perf_counter() - t
            if got != exact:
                failed += 1
                errors.append(f"admitted {got} != exact {exact}")
                continue
            runs.append({"wall_s": last_s, "urls": got[0], "rounds": 1,
                         "round_s": [last_s], "round_urls": [got[0]]})
    state_bytes = tree_bytes(store.root)[0]
    for r in runs:
        r["state_bytes"], r["seen"] = state_bytes, n_seen
    return {"runs": runs, "attempted": attempted, "failed": failed,
            "errors": errors, "peak_rss": rss.peak, "split": tr}
