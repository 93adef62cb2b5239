"""The engine workloads' record plan, recomputed apart from the program.

Record `idx` of shard `s` is decided by a splitmix64 hash of (seed, s, idx),
the same function the benchmark's source uses to make the record. From it
this module derives what a correct run must deliver.
"""
import numpy as np

TYPES = ["view", "click", "purchase", "signup", "error"]
KEPT = "purchase"
M64 = (1 << 64) - 1


def _mix(z):
    """splitmix64's output function (wrapping uint64 arithmetic)."""
    with np.errstate(over="ignore"):
        z = (z + np.uint64(0x9E3779B97F4A7C15))
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def hashes(seed, shard, n):
    base = np.uint64((seed * 1000003 + shard) & M64)
    return _mix(_mix(base) ^ np.arange(n, dtype=np.uint64))


def shard_plan(seed, shard, n):
    h = hashes(seed, shard, n)
    kind = ((h >> np.uint64(1)) % np.uint64(5)).astype(np.int64)
    value = ((h >> np.uint64(28)) % np.uint64(10000)).astype(np.int64)
    soft = ((h >> np.uint64(44)) % np.uint64(100)) == 0
    poison = ((h >> np.uint64(52)) % np.uint64(4096)) == 7
    return kind, value, soft, poison


def expected(seed, shards, per_shard, keep_all, failures):
    """What one round over the plan must produce: items per kind and per
    shard, dead letters, soft retries and each shard's last good record."""
    by_kind, by_shard, dead, soft_n, last_ok = {}, {}, {}, {}, {}
    for s in range(shards):
        sid = f"shard-{s}"
        kind, value, soft, poison = shard_plan(seed, s, per_shard)
        if not failures:
            soft = np.zeros_like(soft)
            poison = np.zeros_like(poison)
        ok = ~poison
        item = ok if keep_all else ok & (kind == TYPES.index(KEPT))
        idx = np.arange(per_shard, dtype=np.int64)
        for k, name in enumerate(TYPES):
            m = item & (kind == k)
            if m.any():
                c, v = by_kind.get(name, (0, 0))
                by_kind[name] = (c + int(m.sum()), v + int(value[m].sum()))
        if item.any():
            by_shard[sid] = (int(item.sum()), int(idx[item].sum()))
        dead[sid] = sorted(int(i) for i in idx[poison])
        soft_n[sid] = int((soft & ok).sum())
        good = idx[ok]
        last_ok[sid] = f"{int(good[-1]):012d}" if len(good) else None
    return {"by_kind": by_kind, "by_shard": by_shard, "dead": dead,
            "soft": soft_n, "last_ok": last_ok}
