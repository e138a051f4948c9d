"""Wall time with the host's stolen CPU time taken out.

The benchmark runs on a few vCPUs of a shared virtual machine. When
other tenants load the host, the hypervisor withholds CPU from those
vCPUs (steal), and every wall time stretches by the share withheld:
from run to run that share moves between about 0% and 25%, and the
timings with it. The guest kernel counts stolen time per CPU in
``/proc/stat``. ``Stopwatch`` reads it around a call and reports

- ``wall_s``: the wall time;
- ``stolen``: the share of the machine's busy CPU time (user, system,
  interrupts and steal) that was stolen while the call ran;
- ``s``: ``wall_s * (1 - stolen)``, the wall time the call would take
  if the vCPUs had run whenever they were busy. The end-to-end timings
  are this figure.

The correction assumes that steal slows every part of the call alike.
It does not remove slowdowns that are not steal, such as caches and
memory bandwidth shared with other tenants.
"""

from __future__ import annotations

import time


def cpu_ticks() -> tuple[int, int]:
    """(stolen, busy) clock ticks of all CPUs since boot."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (int(x) for x in f.readline().split()[1:9])
    return steal, user + nice + system + irq + softirq + steal


def stolen_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the busy ticks between two ``cpu_ticks`` readings that
    were stolen."""
    busy = after[1] - before[1]
    return (after[0] - before[0]) / busy if busy > 0 else 0.0


class Stopwatch:
    """Times the ``with`` block; see the module docstring."""

    wall_s = stolen = s = 0.0

    def __enter__(self) -> Stopwatch:
        self._ticks = cpu_ticks()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> bool:
        self.wall_s = time.perf_counter() - self._t0
        self.stolen = stolen_share(self._ticks, cpu_ticks())
        self.s = self.wall_s * (1.0 - self.stolen)
        return False
