"""Output checks. Each returns a list of problems; an empty list passes."""
from . import plan as planlib
from . import stats


def check_engine_round(rnd, spec, exp):
    """One engine round against the plan's expectations `exp`
    (`plan.expected`) for the round's spec."""
    bad = []
    if rnd.get("failed"):
        bad.append(f"engine run failed: {rnd['failed']}")
    got_kind = {k: tuple(v) for k, v in rnd["by_kind"].items()}
    if got_kind != exp["by_kind"]:
        bad.append(f"per-type count/sum {got_kind} != plan {exp['by_kind']}")
    got_shard = {k: tuple(v) for k, v in rnd["by_shard"].items()}
    if got_shard != exp["by_shard"]:
        bad.append(f"per-shard items/index-sum {got_shard} != plan {exp['by_shard']}")
    for sid, want in exp["last_ok"].items():
        if rnd["final_checkpoint"].get(sid) != want:
            bad.append(f"{sid} final checkpoint {rnd['final_checkpoint'].get(sid)} != {want}")
    dead = {sid: sorted(int(q) for q in seqs) for sid, seqs in rnd.get("dead", {}).items()}
    want_dead = {sid: d for sid, d in exp["dead"].items() if d}
    if {k: v for k, v in dead.items() if v} != want_dead:
        bad.append(f"dead letters {dead} != planned {want_dead}")
    for sid in exp["last_ok"]:
        m = rnd["aggregator"].get(sid, {})
        n_dead = len(exp["dead"][sid])
        want = {"records_processed": spec["per_shard"] - n_dead, "records_failed": n_dead,
                "hard_errors": n_dead, "soft_errors": exp["soft"][sid]}
        got = {k: m.get(k) for k in want}
        if got != want:
            bad.append(f"{sid} monitoring counts {got} != plan {want}")
    return bad


def round_lags(rnd, spec, exp):
    """Commit lag (ms) of every record up to each shard's last good record in
    one round. Dead letters after a shard's last good record are never
    covered by a checkpoint (nothing later succeeds), so they have no lag."""
    import numpy as np
    by_shard = {}
    for sid, seq, t in rnd["saves"]:
        by_shard.setdefault(sid, []).append((int(seq), float(t)))
    lags = []
    for s in range(spec["shards"]):
        last = exp["last_ok"][f"shard-{s}"]
        n = int(last) + 1 if last is not None else 0
        lags.append(stats.commit_lags(by_shard.get(f"shard-{s}", []), n, spec["rate_per_shard"]))
    return np.concatenate(lags)


def expected_for(seed, spec):
    return planlib.expected(seed, spec["shards"], spec["per_shard"], spec["keep_all"],
                            spec["failures"])
