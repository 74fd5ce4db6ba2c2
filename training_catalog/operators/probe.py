"""Env-gated task-memory diagnostics for ``tests/scale_probe.py --vocab``.

Production-inert: ``record_task_peak`` is a no-op unless
``SPARK_GRAFT_TRAINER_PROBE`` names a writable path, which only the
scale probe sets.  Local-mode by design — the probe pins the
single-task tokenizer-trainer memory ceiling on the dev box (where the
Python workers inherit the driver environment); on a real cluster the
variable never propagates and the hook stays dormant.
"""

from __future__ import annotations

import os


def record_task_peak(tag: str) -> None:
    """Append this Python worker's peak RSS (``VmHWM``, kB) to the
    probe file named by ``SPARK_GRAFT_TRAINER_PROBE``.

    Called at the END of the single-task trainers' ``applyInPandas``
    bodies, so the reading covers the Arrow batch, the trainer state,
    and the merge loop — the full task-memory footprint the contract
    is about.
    """
    path = os.environ.get("SPARK_GRAFT_TRAINER_PROBE")
    if not path:
        return
    try:
        with open("/proc/self/status") as fh:
            hwm = next(line.split()[1] for line in fh
                       if line.startswith("VmHWM"))
        with open(path, "a") as fh:
            fh.write(f"{tag} {hwm}\n")
    except (OSError, StopIteration):
        pass
