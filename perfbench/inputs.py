"""Everything a run varies, derived from the run seed alone: the order of
the sweep's queries, the pipeline's split seed, and the request stream with
its upload bodies. Each derivation draws from its own
random.Random seeded with "<seed>:<purpose>", so changing one does not
shift the others."""
import random

# The serve traffic is an assumption, not taken from a measured trace (the
# reference system ships no request log): shares of smoke and metrics
# requests (uploads take the rest), /train/ at fixed positions, and
# upload bodies reused with Zipf (s = 1) popularity over the pool.
SERVE_MIX = (("upload", None), ("smoke", 0.04), ("metrics", 0.004))


def _rng(seed, purpose):
    return random.Random(f"{seed}:{purpose}")


def sweep_order(seed, panel):
    """The sweep's queries in this run's order: the recorded panel (one
    [query, module] pair per module), shuffled by the seed."""
    order = [list(q) for q in panel]
    _rng(seed, "sweep").shuffle(order)
    return order


def split_seed(seed):
    return _rng(seed, "split").randrange(1, 2**31)


def _body(rng):
    rows = rng.randint(1, 100)
    lines = ["l_quantity,l_extendedprice,l_discount,l_tax"]
    for _ in range(rows):
        lines.append(f"{rng.randint(1, 50)}.0,"
                     f"{rng.randint(90000, 10500000) / 100:.2f},"
                     f"{rng.randint(0, 10) / 100:.2f},"
                     f"{rng.randint(0, 8) / 100:.2f}")
    return "\n".join(lines) + "\n"


def serve_stream(seed, n_requests, n_bodies, train_every):
    """The closed-loop request stream: (kind, arg) pairs. For an upload
    the arg is the body's index in the returned pool, for the k-th /train/
    it is k (the model is saved as d_tree_<k>), otherwise -1. Every
    `train_every`-th request but the last is a /train/; the others follow
    SERVE_MIX in exact counts, in seeded order, so only which request comes
    when varies with the seed. Upload bodies are drawn from a pool of
    `n_bodies` CSV bodies, body i with weight 1 / (i + 1), so popular
    bodies repeat and can hit the response cache while rare ones miss.
    Returns (bodies, requests)."""
    rng = _rng(seed, "serve")
    bodies = [_body(rng) for _ in range(n_bodies)]
    weights = [1.0 / (i + 1) for i in range(n_bodies)]
    trains = [i for i in range(1, n_requests) if i % train_every == 0]
    others = n_requests - len(trains)
    kinds = [k for k, share in SERVE_MIX[1:] for _ in range(round(share * others))]
    kinds += [SERVE_MIX[0][0]] * (others - len(kinds))
    rng.shuffle(kinds)
    requests = []
    for kind in kinds:
        body = rng.choices(range(n_bodies), weights)[0] if kind == "upload" else -1
        requests.append([kind, body])
    for k, i in enumerate(trains, 1):
        requests.insert(i - 1, ["train", k])
    return bodies, requests


def check_bodies(seed, requests, n):
    """Up to n distinct uploaded bodies whose served predictions are
    re-scored offline after the run."""
    used = sorted({b for k, b in requests if k == "upload"})
    return sorted(_rng(seed, "check").sample(used, min(n, len(used))))
