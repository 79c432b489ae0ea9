"""Global engine toggles (reference utils/global_values.py:1-22).

The reference exposes a process-wide sampling switch (default ON, 5000
rows, seed 42) consumed by every explainer; `toggle_sampling()` flips it.
Our default is OFF — full-data fidelity is the Spark engine's value-add
(BASELINE.md §3 budgets full-data explain at <= 30 s) — but the same
switch exists for reference-parity latency. Only the FEDEX explainers
(filter, group-by, join and Shapley) read it: their ``use_sampling``
kwarg defaults to this global when omitted. Many-to-one and MetaInsight
default their own ``use_sampling`` to True and ignore the global. Sample
sizes and the seed are per-explainer constants.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class _GlobalConfig:
    use_sampling: bool = False


GLOBALS = _GlobalConfig()


def toggle_sampling(value: bool | None = None) -> bool:
    """Flip (or set) the global explainer-sampling switch; returns the new
    value (reference utils/global_values.py:4-15)."""
    GLOBALS.use_sampling = (not GLOBALS.use_sampling) if value is None else bool(value)
    return GLOBALS.use_sampling


def get_use_sampling_value() -> bool:
    """Current sampling flag (reference utils/global_values.py
    get_use_sampling_value — same name, package top-level export)."""
    return GLOBALS.use_sampling


def resolve_sampling(kwarg_value: bool | None) -> bool:
    """An explainer's effective sampling flag: explicit kwarg wins, else
    the global."""
    return GLOBALS.use_sampling if kwarg_value is None else bool(kwarg_value)
