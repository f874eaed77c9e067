"""Seeded operation lists for the workloads.

Each function turns `--seed` into the exact list of operations the JVM
runs; the same seed always yields the same list. The JVM receives only
this list (plus the generated tables), never the seed. A plan is
`{"warm": [...], "block": k, "ops": [...]}`: untimed warm-up operations,
then operations that the JVM runs until `--seconds` of timed work are
done, stopping only after a whole block of `k` operations (two olap
rounds, a cost-balanced catalog block, an ingest pass).
"""
import random
import re

# BASELINE.md's classic-OLAP headline queries.
HEADLINE = ["q01_agg", "q02_filter_project", "q03_join_agg", "q04_semi_join",
            "q06_broadcast_join", "q07_star_join", "q08_window_rank",
            "q10_distinct_agg", "q15_sort_limit", "q17_having"]

OLAP_ROUNDS = 100          # more than any run reaches
OLAP_BLOCK_ROUNDS = 2      # the loop stops only after an even number of rounds
CATALOG_SAMPLE = 100
COST_STRATA = 5
INGEST_BATCHES = 8
WARM_BATCHES = 2
WARM_DOCS = 300
INGEST_PASSES = 20         # more than any run reaches


def olap_warm(seed):
    """An untimed pass over the headline queries, then rounds of them, each
    round in its own seeded order."""
    rng = random.Random(seed)
    ops = []
    for _ in range(OLAP_ROUNDS):
        ops += rng.sample(HEADLINE, len(HEADLINE))
    return {"warm": [("query", n) for n in HEADLINE],
            "block": OLAP_BLOCK_ROUNDS * len(HEADLINE), "ops": [("query", n) for n in ops]}


def family(name):
    """Name family: the leading letters of an entry name (`q`, `ev`, `gr`,
    `tx`, `dd`, `sim`, ...)."""
    m = re.match(r"[a-z]+", name)
    return m.group(0) if m else name


def stratified_sample(names, cost, seed, size=CATALOG_SAMPLE, strata=COST_STRATA):
    """A sample of `size` entries, stratified two ways, in run order.

    Families get shares proportional to their size (largest remainder),
    at least one for every family of two or more entries. Within a family
    the members are sorted by `cost` (seconds per entry, as stored with
    the expected digests) and cut into as many bins as the family's share,
    one member drawn from each bin. The order then cuts the sample by cost
    into `strata` equal groups and runs it as blocks holding one entry of
    each group, so every run of whole blocks has the same cost mix
    whatever the seed. Every entry has the same chance to be drawn.
    """
    rng = random.Random(seed)
    fams = {}
    for n in sorted(set(names)):
        fams.setdefault(family(n), []).append(n)
    total = sum(len(v) for v in fams.values())
    size = min(size, total)
    quota = {f: size * len(v) / total for f, v in fams.items()}
    alloc = {f: int(q) for f, q in quota.items()}
    for f, v in fams.items():
        if len(v) >= 2 and alloc[f] == 0:
            alloc[f] = 1
    left = size - sum(alloc.values())
    for f in sorted(fams, key=lambda f: (alloc[f] - quota[f], f)):
        if left <= 0:
            break
        if alloc[f] < len(fams[f]):
            alloc[f] += 1
            left -= 1
    by_cost = lambda n: (cost.get(n, 0.0), n)  # noqa: E731
    picks = []
    for f in sorted(fams):
        members, k = sorted(fams[f], key=by_cost), alloc[f]
        picks += [rng.choice(members[j * len(members) // k:(j + 1) * len(members) // k])
                  for j in range(k)]
    picks.sort(key=by_cost)
    groups = [picks[i * len(picks) // strata:(i + 1) * len(picks) // strata]
              for i in range(strata)]
    for g in groups:
        rng.shuffle(g)
    order = []
    for b in range(max(len(g) for g in groups)):
        block = [g[b] for g in groups if b < len(g)]
        rng.shuffle(block)
        order += block
    return order


def catalog_cold(seed, names, cost):
    return {"warm": [], "block": COST_STRATA,
            "ops": [("query", n) for n in stratified_sample(names, cost, seed)]}


def batch_sizes(rng, n_docs, n_batches):
    """Split `n_docs` into `n_batches` sizes proportional to weights drawn
    uniformly from [0.9, 1.1]."""
    w = [rng.uniform(0.9, 1.1) for _ in range(n_batches)]
    cuts = [round(n_docs * sum(w[:i + 1]) / sum(w)) for i in range(n_batches)]
    return [b - a for a, b in zip([0] + cuts[:-1], cuts)]


def corpus_ingest(seed, n_docs):
    """Passes over the whole documents table, each into a fresh state dir,
    in contiguous doc_id batches of seeded sizes. Batches ascend in
    doc_id, so first-arrival dedup keeps the same documents as a one-shot
    run and the final `canonical` output is the same for every seed. An
    untimed pass of WARM_BATCHES small batches into a state dir of its own
    runs first, so that the timed ingests do not carry the JVM's warm-up."""
    rng = random.Random(seed)
    warm = [("ingest", -1, b, b * WARM_DOCS, (b + 1) * WARM_DOCS) for b in range(WARM_BATCHES)]
    ops = []
    for p in range(INGEST_PASSES):
        lo = 0
        for b, size in enumerate(batch_sizes(rng, n_docs, INGEST_BATCHES)):
            ops.append(("ingest", p, b, lo, lo + size))
            lo += size
    return {"warm": warm, "block": INGEST_BATCHES, "ops": ops}
