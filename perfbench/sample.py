"""Seeded workload construction: latency-stratified samples and the
tail-percentile rule.

A sample draws exactly one query from each latency band (the queries
sorted by their calibrated warm latency and cut into equal slices), so
every seed gets the same spread of cheap and expensive queries and the
run-to-run median moves little with the seed. On top of that the
sample spreads over the registry modules: each module is matched to a distinct band
holding one of its queries (Kuhn's augmenting-path matching, visited in
seeded order), and that band's pick comes from the module. With fewer
bands than modules, the seeded visiting order decides which modules a
run covers. Within a band the pick comes from its middle third when it
can, which narrows the seed-to-seed spread of the sample's latencies.
"""

from __future__ import annotations

import random


def bands(names: list[str], ref_s: dict[str, float], n: int) -> list[list[str]]:
    """``names`` sorted by (reference latency, name), cut into ``n``
    contiguous slices whose sizes differ by at most one."""
    if not 0 < n <= len(names):
        raise ValueError(f"cannot cut {len(names)} names into {n} bands")
    order = sorted(names, key=lambda q: (ref_s[q], q))
    base, extra = divmod(len(order), n)
    out, i = [], 0
    for b in range(n):
        size = base + (1 if b < extra else 0)
        out.append(order[i:i + size])
        i += size
    return out


def _match(modules: list[str], options: dict[str, list[int]], rng) -> dict[int, str]:
    """band -> module, one distinct band per module, for as many modules
    as can be matched; earlier modules in ``modules`` are never displaced
    by later ones."""
    owner: dict[int, str] = {}

    def augment(mod: str, seen: set[int]) -> bool:
        opts = options[mod][:]
        rng.shuffle(opts)
        for b in opts:
            if b in seen:
                continue
            seen.add(b)
            if b not in owner or augment(owner[b], seen):
                owner[b] = mod
                return True
        return False

    for mod in modules:
        augment(mod, set())
    return owner


def _core(band: list[str]) -> list[str]:
    """The middle third of a band (at least one query)."""
    lo, hi = len(band) // 3, max(len(band) // 3 + 1, (2 * len(band)) // 3)
    return band[lo:hi]


def stratified_sample(
    names: list[str],
    module_of: dict[str, str],
    ref_s: dict[str, float],
    n_bands: int,
    seed: int,
) -> list[str]:
    """One query per latency band, in a seeded run order, with as many
    distinct modules as the bands allow: every module when there are at
    least as many bands as modules, and otherwise a seeded subset of them,
    so that seeds rotate through the modules. Picks come from the middle
    third of their band where the module has a query there, so every
    seed's sample has nearly the same latency profile. The same arguments
    always give the same list."""
    rng = random.Random(seed)
    cut = bands(names, ref_s, n_bands)
    cores = [_core(b) for b in cut]
    modules = sorted({module_of[q] for q in names})
    rng.shuffle(modules)

    def where(m: str, groups: list[list[str]]) -> list[int]:
        return [b for b, members in enumerate(groups) if any(module_of[q] == m for q in members)]

    options = {m: where(m, cores) or where(m, cut) for m in modules}
    owner = _match(modules, options, rng)
    picks = []
    for b in range(n_bands):
        if b in owner:
            pool = [q for q in cores[b] if module_of[q] == owner[b]]
            pool = pool or [q for q in cut[b] if module_of[q] == owner[b]]
        else:
            pool = cores[b]
        picks.append(rng.choice(sorted(pool)))
    rng.shuffle(picks)
    return picks


# The tail percentile a run may report: the highest of these that still
# has at least MIN_BEYOND samples above it.
PERCENTILES = (99, 95, 90, 75, 50)
MIN_BEYOND = 10


def supported_percentile(n: int) -> int | None:
    """Highest percentile in PERCENTILES with >= MIN_BEYOND of ``n``
    samples beyond it, or None when even the median is unsupported."""
    for p in PERCENTILES:
        if n * (100 - p) / 100.0 >= MIN_BEYOND:
            return p
    return None


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)
