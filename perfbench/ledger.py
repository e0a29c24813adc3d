"""Layer ledger: split one pass's wall time across the layers it ran.

Spark layers are measured as differences between plan prefixes run on
the same input (scan; scan + salted shuffle; + identity ``mapInArrow``);
the kernel layer is its single-core busy time scaled to the corpus and
divided by the cores. Whatever the layers do not cover is reported as
``unexplained_s``, so a ledger that stops reconciling shows it.
"""

from __future__ import annotations

# Layers that move or hold data rather than extract text.
PLUMBING = (
    "spark.scan.s",
    "engine.partitioning.salt_map.s",
    "engine.partitioning.shuffle.s",
    "spark.arrow.identity.s",
)
KERNEL = "kernel.wall_est_s"


def kernel_wall_s(busy_s: float, sample_docs: int, n_docs: int, cores: int) -> float:
    """Wall time the kernel needs for *n_docs* on *cores*, from its busy
    time on a *sample_docs*-document single-core sample."""
    if sample_docs <= 0 or cores <= 0:
        raise ValueError("sample_docs and cores must be positive")
    return busy_s / sample_docs * n_docs / cores


def build_ledger(wall_s: float, layers: dict[str, float]) -> dict:
    """Reconcile *layers* (name -> seconds) against the pass wall time."""
    explained = sum(layers.values())
    plumbing = {k: v for k, v in layers.items() if k in PLUMBING}
    largest = max(plumbing, key=plumbing.__getitem__) if plumbing else None
    return {
        "wall_s": wall_s,
        "layers": dict(layers),
        "explained_s": explained,
        "unexplained_s": wall_s - explained,
        "largest_plumbing": largest,
        "largest_plumbing_s": plumbing[largest] if largest else 0.0,
    }


def resume_overhead(resume_s: float, full_s: float, remaining: float) -> tuple[float, float]:
    """(overhead, base): resume time over the share of a full run that
    was left to do. 1.0 means resuming costs exactly the remaining work."""
    base = full_s * remaining
    if base <= 0:
        raise ValueError("full run time and remaining share must be positive")
    return resume_s / base, base


def format_ledger(workload: str, ledger: dict) -> list[str]:
    wall = ledger["wall_s"]
    lines = [f"ledger {workload}: pass wall {wall:.3f} s"]
    for name, sec in sorted(ledger["layers"].items(), key=lambda kv: -kv[1]):
        share = sec / wall if wall else 0.0
        tag = " (plumbing)" if name in PLUMBING else ""
        lines.append(f"  {name:<34} {sec:8.3f} s  {share:6.1%}{tag}")
    lines.append(f"  {'unexplained':<34} {ledger['unexplained_s']:8.3f} s")
    lines.append(
        f"  largest plumbing layer: {ledger['largest_plumbing']} "
        f"({ledger['largest_plumbing_s']:.3f} s)"
    )
    return lines
