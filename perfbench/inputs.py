"""Seeded input generators. The same seed gives byte-identical inputs.

Nothing here touches Spark: the workloads turn these pandas frames into
DataFrames and write them through the engine's public API.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from datetime import datetime, timedelta

import pandas as pd


# --------------------------------------------------------------------------
# crawl workloads: a mini-web from the engine's own fixture generator
# --------------------------------------------------------------------------

@dataclass(frozen=True)
class WebSpec:
    num_hosts: int
    pages_per_host: int
    hot_hosts: int
    hot_factor: int
    n_seeds: int


def crawl_inputs(seed: int, spec: WebSpec):
    """(web, robots, seeds) pandas frames: ``generate_web`` plus
    ``n_seeds`` seed URLs drawn from the whole web (the fixture
    generator itself only emits 10 seeds)."""
    from sparkcrawl.sources.fixtures import generate_web

    web, robots, _ = generate_web(
        seed=seed, num_hosts=spec.num_hosts, pages_per_host=spec.pages_per_host,
        hot_hosts=spec.hot_hosts, hot_factor=spec.hot_factor,
    )
    rng = random.Random(seed)
    urls = sorted(rng.sample(list(web["url"]), spec.n_seeds))
    seeds = pd.DataFrame({"url": urls, "priority": [1] * len(urls)})
    return web, robots, seeds


# --------------------------------------------------------------------------
# offline workload: a crawl state as several crawl legs would leave it
# --------------------------------------------------------------------------

@dataclass(frozen=True)
class StateSpec:
    num_hosts: int          # ordinary hosts
    pages_per_host: int     # mean pages per host (1..2x-1, fixed total)
    trap_urls: int          # calendar-trap URLs on one extra host
    deltas: int             # frontier deltas, none compacted
    update_frac: float      # share of URLs rewritten by each later delta
    supersteps: int         # fetch-log / checkpoint history
    fetched_frac: float     # share of URLs with fetch observations
    sick_frac: float        # share of hosts that only ever answer 5xx
    docs: int               # corpus size for the curation export


TRAP_HOST = "calendar.example"
T_DAY0 = datetime(2000, 1, 1)


def offline_inputs(seed: int, spec: StateSpec) -> dict:
    """Pandas frames for the offline state.

    - ``urls``: (url, priority) — every frontier URL;
    - ``updates``: one (url, priority) frame per later frontier delta;
    - ``fetch_log``: fetch-log rows of all supersteps; every observed URL
      is seen in >= 2 supersteps, and sick hosts only answer 5xx;
    - ``docs``: (doc_id, text) corpus with a language/quality spread.
    """
    rng = random.Random(seed)
    hosts = [f"h{i:04d}.example" for i in range(spec.num_hosts)]
    urls = []
    host_of = {}
    # 1..2x-1 pages per host, shuffled: the seed decides which host gets
    # which size, the total stays fixed
    sizes = [1 + i % (2 * spec.pages_per_host - 1) for i in range(spec.num_hosts)]
    rng.shuffle(sizes)
    for h, size in zip(hosts, sizes):
        for p in range(size):
            u = f"http://{h}/page/{p}"
            urls.append(u)
            host_of[u] = h
    for i in range(spec.trap_urls):
        day = T_DAY0 + timedelta(days=i)
        u = f"http://{TRAP_HOST}/cal/{day.year}/{day.month:02d}/{day.day:02d}"
        urls.append(u)
        host_of[u] = TRAP_HOST
    frontier = pd.DataFrame({"url": urls, "priority": [rng.randint(1, 10) for _ in urls]})
    updates = []
    for _ in range(spec.deltas - 1):
        pick = sorted(rng.sample(range(len(urls)), int(len(urls) * spec.update_frac)))
        updates.append(pd.DataFrame({
            "url": [urls[i] for i in pick],
            "priority": [rng.randint(1, 10) for _ in pick],
        }))

    sick = set(rng.sample(hosts, max(1, int(len(hosts) * spec.sick_frac))))
    observed = sorted(rng.sample(urls, int(len(urls) * spec.fetched_frac)))
    log_rows: list[list[tuple]] = [[] for _ in range(spec.supersteps)]
    for u in observed:
        first = rng.randrange(spec.supersteps - 1)
        for s in range(first, spec.supersteps):
            if s > first + 1 and rng.random() < 0.3:
                continue  # a skipped revisit; the first two always happen
            if host_of[u] in sick:
                status = 500
            elif s == first or rng.random() < 0.4:
                status = 200
            else:
                status = 304
            log_rows[s].append((u, status))
    fetch_log = pd.DataFrame(
        [(s, rank, 0, u, status)
         for s, rows in enumerate(log_rows, start=1)
         for rank, (u, status) in enumerate(rows)],
        columns=["superstep", "rank", "slot", "url", "status_code"],
    )
    return {"urls": frontier, "updates": updates, "fetch_log": fetch_log, "docs": corpus(rng, spec.docs)}


# vocabulary shaped like the repository's synthetic documents table:
# crawl/analytics word salad, plus per-language function words
_VOCAB = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query window row key table stream merge data join big "
    "vector customer crawl frontier queue host link fetch page index"
).split()
_FUNCTION_WORDS = {
    "en": ("the", "and", "of", "to", "in"),
    "de": ("der", "die", "und", "das", "nicht"),
    "fr": ("le", "la", "les", "et", "des"),
    "none": (),
}


def corpus(rng: random.Random, n: int) -> pd.DataFrame:
    """(doc_id, text): English/German/French/function-word-free docs of
    8..140 words with a 0..40% function-word share, some punctuation,
    and ~3% exact duplicates — so language ID, the quality gate and
    exact dedup each keep some documents and drop others."""
    texts = []
    for _ in range(n):
        if texts and rng.random() < 0.03:
            texts.append(rng.choice(texts))
            continue
        lang = rng.choices(list(_FUNCTION_WORDS), weights=(5, 2, 2, 1))[0]
        share = rng.uniform(0.0, 0.4) if _FUNCTION_WORDS[lang] else 0.0
        words = []
        for _ in range(rng.randint(8, 140)):
            if rng.random() < share:
                words.append(rng.choice(_FUNCTION_WORDS[lang]))
            else:
                words.append(rng.choice(_VOCAB))
            if rng.random() < 0.05:
                words[-1] += rng.choice(".,;!?")
        texts.append(" ".join(words))
    return pd.DataFrame({"doc_id": range(n), "text": texts})
