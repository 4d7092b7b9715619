"""The benchmark's workloads and their seeded request lists.

Requests run in rounds; `--seconds` sets the number of rounds, seconds /
round_s rounded, at least 3, where round_s is a round's nominal time on a
4-core machine. A workload either names a fixed query set, and then a round
asks for every query once in a seeded order, or names registry families, and
then the seed shuffles every query of those families once and the rounds
take `per_round` requests after another from that order, so no query is
asked twice in a run. A round is dealt to the clients in turn. The untimed
warm-up pass runs each distinct query of the run once, dealt to
`warm_clients` threads. README.md gives the reason for each workload.
"""
import random

WORKLOADS = {
    # Operator bodies, edge sorts, stored-index reads and stream replays at
    # sf0.1, one client.
    "batch_sf01": dict(sf=0.1, clients=1, warm_clients=1, round_s=7, queries=[
        "q03_edge_scan",                # the edge sort is most of its cost
        "q29_group_agg",                # the operator body is most of its cost
        "d08_minhash_signature",        # stored MinHash signatures
        "d09_lsh_band_candidates",      # stored LSH bands
        "e06_ivf_lloyd_ann",            # stored IVF index and centroids
        "g01_connected_components",     # GraphX iterations, one job each
        "s01_stream_daily_buckets",     # windowed streaming aggregation
        "s05_stream_static_join",       # stream-static join
        "s13_stream_norms_index",       # stream-maintained index delta
    ]),
    # ScalliGraph API traffic at sf0.01, two clients on one session: a
    # seeded sample of the registry's q/j/t queries, each at most once.
    "interactive_sf001": dict(sf=0.01, clients=2, warm_clients=4, round_s=5, families="qjt",
                              per_round=28),
}


def scales():
    return sorted({w["sf"] for w in WORKLOADS.values()})


def pool(name, registry):
    """The queries a workload draws from, given the registry's names."""
    w = WORKLOADS[name]
    if "queries" in w:
        return list(w["queries"])
    return sorted(q for q in registry if q[0] in w["families"])


def plan(name, seed, seconds, registry):
    """(distinct queries, warm-up list per client, rounds); a round is one
    request list per client."""
    w = WORKLOADS[name]
    qs = pool(name, registry)
    rng = random.Random(f"{name}:{seed}")
    deal = lambda xs, n: [xs[c::n] for c in range(n)]
    n_rounds = max(3, round(seconds / w["round_s"]))
    if "queries" not in w:
        order = list(qs)
        rng.shuffle(order)
        k = w["per_round"]
        if n_rounds * k > len(order):
            raise ValueError(f"{name}: {n_rounds} rounds of {k} exceed its {len(order)} queries")
    rounds = []
    for i in range(n_rounds):
        if "queries" in w:
            r = list(qs)
            rng.shuffle(r)
        else:
            r = order[i * k:(i + 1) * k]
        rounds.append(deal(r, w["clients"]))
    distinct = sorted({q for r in rounds for reqs in r for q in reqs})
    warm = list(distinct)
    rng.shuffle(warm)
    return distinct, deal(warm, w["warm_clients"]), rounds
