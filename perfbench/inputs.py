"""Seeded benchmark inputs, built with the engine's own generator.

The seed derives the host names and the per-host link-shape periods (dead
dir/leaf links, multi-parent duplicate links, ancestor cycles, which hosts
disallow a subtree). synth hashes every URL for its timestamps, languages
and leaf bodies, so those change with the host names too. Page counts stay
within a few percent across seeds, so throughput figures from different
seeds are comparable. A shape may fix host 0's dead-directory period and
narrow the directories its robots rule may pick, so that a workload's
measured rounds do the same work on every seed. The engine only ever sees
the parquet files written here.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass


@dataclass(frozen=True)
class GraphShape:
    n_hosts: int
    depth: int
    fanout: int  # dir links per directory page
    leaf_fanout: int  # jar links per directory page
    skew_depth: int  # host 0 is the skewed one: its own depth and fanout
    skew_fanout: int
    skew_budget: int  # host 0's per-round fetch budget (robots crawl delay)
    budget: int  # every other host's budget
    disallow_every: int  # host 0 and every Nth host (N>0) disallow a subtree
    # Host 0's dead-directory period, or None to draw it from the seed as
    # for every other host; and the first of its top-level directories the
    # seed may pick for robots to disallow.
    skew_dead_dir_every: int | None = None
    skew_disallow_from: int = 0


def seeded_specs(shape: GraphShape, seed: int):
    from graven_spark.sources import synth

    rng = random.Random(seed)
    tag = hashlib.sha1(f"perfbench-{seed}".encode()).hexdigest()[:8]
    specs = []
    for i in range(shape.n_hosts):
        skew = i == 0
        specs.append(synth.SiteSpec(
            f"h{i}-{tag}.example.org",
            depth=shape.skew_depth if skew else shape.depth,
            dir_fanout=shape.skew_fanout if skew else shape.fanout,
            leaf_fanout=shape.leaf_fanout,
            dead_dir_every=(shape.skew_dead_dir_every
                            if skew and shape.skew_dead_dir_every
                            else rng.randint(6, 8)),
            dead_leaf_every=rng.randint(10, 12),
            dup_link_every=rng.randint(4, 6),
            cycle_every=rng.randint(5, 7),
        ))
    return specs


def build_graph(shape: GraphShape, seed: int):
    """Pages/seeds/robots as pandas frames (synth.SiteGraph). The robots
    table carries the per-host budgets and the disallowed subtrees."""
    import pandas as pd

    from graven_spark.sources import synth

    specs = seeded_specs(shape, seed)
    graph = synth.generate_graph(specs, host_budget=shape.budget)
    robots = graph.robots.copy()
    robots.loc[robots["host"] == specs[0].host, "crawl_delay_tokens"] = shape.skew_budget
    # each disallowing host blocks a seed-chosen top-level directory, so the
    # robots gate cuts a different branch per seed (a host without
    # directories has nothing to block)
    rng = random.Random(seed ^ 0x5EED)
    first = [shape.skew_disallow_from] + [0] * (len(specs) - 1)
    rules = {
        s.host: [f"/maven2/d0s{rng.randrange(first[i], s.dir_fanout)}/"]
        for i, s in enumerate(specs)
        if s.depth > 0 and (i == 0 or (shape.disallow_every and i % shape.disallow_every == 0))
    }
    robots["disallow_prefixes"] = [rules.get(h, []) for h in robots["host"]]
    graph.robots = pd.DataFrame(robots)
    return graph


def write_inputs(graph, out_dir: str) -> dict[str, str]:
    os.makedirs(out_dir, exist_ok=True)
    paths = {n: os.path.join(out_dir, f"{n}.parquet")
             for n in ("pages", "seeds", "robots")}
    graph.pages.to_parquet(paths["pages"], index=False)
    graph.seeds.to_parquet(paths["seeds"], index=False)
    graph.robots.to_parquet(paths["robots"], index=False)
    return paths


def input_sizes(graph) -> dict:
    pages = graph.pages
    return {
        "pages": int(len(pages)),
        "dir_pages": int(pages["url"].str.endswith("/").sum()),
        "html_bytes": int(pages["html"].map(len).sum()),
        "hosts": int(len(graph.seeds)),
        "budgets": sorted({int(b) for b in graph.robots["crawl_delay_tokens"]}),
        "disallowing_hosts": int(sum(len(p) > 0 for p in graph.robots["disallow_prefixes"])),
    }


def run_oracle(graph, max_rounds: int):
    """The reference-faithful single-threaded crawl over the same inputs,
    for at most ``max_rounds`` rounds."""
    from graven_spark.oracle import crawl_oracle

    pages = {r.url: {"html": r.html, "warc_ts": r.warc_ts.to_pydatetime(),
                     "lang": r.lang} for r in graph.pages.itertuples()}
    robots = {r.host: {"disallow_prefixes": list(r.disallow_prefixes),
                       "crawl_delay_tokens": int(r.crawl_delay_tokens)}
              for r in graph.robots.itertuples()}
    return crawl_oracle(pages, list(graph.seeds.sort_values("seed_rank")["url"]),
                        robots, max_rounds=max_rounds)
