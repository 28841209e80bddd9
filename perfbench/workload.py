"""The interface ``run.py`` drives.  A workload lists the ops of one
round; the runner times ``run`` and calls everything else outside the
timed region."""

from __future__ import annotations


class Workload:
    name = ""
    sf = 0.1        # input scale factor
    round_s = 1.0   # nominal seconds per round on a 4-vCPU host with steal

    def setup(self, ctx) -> None:
        """Build what the ops read; runs inside ``setup_s``."""

    def ops(self) -> list:
        """The ops of one round, in order; the same list every round."""
        raise NotImplementedError

    def label(self, op) -> str:
        return str(op)

    def before(self, ctx, op) -> None:
        """Prepare ``op``'s input (untimed)."""

    def run(self, ctx, op):
        """The timed op; returns its output."""
        raise NotImplementedError

    def after(self, ctx, op, out) -> "list[str]":
        """Check ``out`` (untimed); returns failure messages."""
        return []

    def end_round(self, ctx) -> None:
        """Release per-round state (untimed)."""

    def check(self, ctx) -> "list[str]":
        """End-of-run checks against DuckDB; returns failure messages."""
        return []

    def sink_tables(self, spark) -> int:
        """Memory-sink views the workload left registered."""
        return 0

    def cleanup(self) -> None:
        """Remove what the program wrote outside the run's directory."""


class Mix(Workload):
    """Several workloads' ops in one round: each keeps its own op order,
    and the seed picks how they interleave."""

    def __init__(self, name: str, sf: float, round_s: float, **parts):
        self.name, self.sf, self.round_s = name, sf, round_s
        self.parts = parts

    def setup(self, ctx) -> None:
        lists = []
        for key, part in self.parts.items():
            part.setup(ctx)
            lists.append([(key, op) for op in part.ops()])
        slots = [i for i, ops in enumerate(lists) for _ in ops]
        ctx.rng.shuffle(slots)
        its = [iter(ops) for ops in lists]
        self.order = [next(its[i]) for i in slots]

    def ops(self) -> list:
        return self.order

    def label(self, op) -> str:
        key, inner = op
        return f"{key}:{self.parts[key].label(inner)}"

    def before(self, ctx, op) -> None:
        self.parts[op[0]].before(ctx, op[1])

    def run(self, ctx, op):
        return self.parts[op[0]].run(ctx, op[1])

    def after(self, ctx, op, out) -> "list[str]":
        return self.parts[op[0]].after(ctx, op[1], out)

    def end_round(self, ctx) -> None:
        for part in self.parts.values():
            part.end_round(ctx)

    def check(self, ctx) -> "list[str]":
        return [e for part in self.parts.values() for e in part.check(ctx)]

    def sink_tables(self, spark) -> int:
        return sum(p.sink_tables(spark) for p in self.parts.values())

    def cleanup(self) -> None:
        for part in self.parts.values():
            part.cleanup()
