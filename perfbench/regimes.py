"""IVM regime ledger: which maintenance plan each MV is armed with at
create time and at the end of the run, and the change in the engine's
direct-path counters over the run."""

from __future__ import annotations

# The engine's incremental regimes, in the order it tries them on
# refresh: the MVState slot that holds the armed plan, the engine method
# that runs it, and the regime's label. An MV with no plan armed, or a
# refresh that none of these methods completes, is maintained by
# snapshot-diff.
REGIMES = (
    ("inc_direct", "_refresh_direct", "direct"),
    ("inc", "_refresh_incremental", "inc"),
    ("inc_topn", "_refresh_incremental_topn", "inc_topn"),
    ("inc_join", "_refresh_incremental_join", "inc_join"),
    ("inc_joinagg", "_refresh_incremental_joinagg", "inc_joinagg"),
    ("inc_join_nway", "_refresh_incremental_join_nway", "inc_join_nway"),
    ("inc_session", "_refresh_incremental_session", "inc_session"),
    ("inc_union", "_refresh_incremental_union", "inc_union"),
    ("inc_distinct", "_refresh_incremental_distinct", "inc_distinct"),
)
REFRESH_PATHS = {method: label for _, method, label in REGIMES}


def armed(state) -> list[str]:
    """The MV's armed plans, or ``["snapshot_diff"]`` when none is."""
    out = [label for slot, _, label in REGIMES if getattr(state, slot, None) is not None]
    return out or ["snapshot_diff"]


class RegimeLedger:
    def __init__(self, engine, fqs: list[str]) -> None:
        self.engine = engine
        self.fqs = list(fqs)
        self.created = {fq: armed(engine.mvs[fq]) for fq in self.fqs}
        self.stats0: dict[str, int] = {}

    def start(self) -> None:
        self.stats0 = dict(self.engine.direct_stats)

    def finish(self) -> dict:
        end = {fq: armed(self.engine.mvs[fq]) for fq in self.fqs if fq in self.engine.mvs}
        changed = [fq for fq in self.fqs if end.get(fq) != self.created[fq]]
        stats = {k: v - self.stats0.get(k, 0)
                 for k, v in self.engine.direct_stats.items()}
        return {
            "mvs": {fq: {"created": self.created[fq], "end": end.get(fq)}
                    for fq in self.fqs},
            "direct_stats_delta": stats,
            "regime_changes": len(changed),
        }
