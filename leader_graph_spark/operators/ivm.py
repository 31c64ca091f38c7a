"""Incremental view maintenance (IVM) for joins.

``operators/skew.py`` keeps AGGREGATE views fresh without rescanning
history (sketch merges, retraction-aware state); this module does the
same for JOIN views — the other half of a warehouse's derived-table
layer. Given a stored
join result over (L, R) and insert-deltas (ΔL, ΔR), the delta of the
join is the standard differential rule

    Δ(L ⋈ R) = ΔL ⋈ R  ∪  L ⋈ ΔR  ∪  ΔL ⋈ ΔR
             = ΔL ⋈ (R ∪ ΔR)  ∪  L ⋈ ΔR

so maintenance cost scales with |Δ|·selectivity, never with |L ⋈ R|.
The reference recomputes derived MySQL tables from scratch on every
run (``src/leader_relation_data2mysql.py`` drops and refills); at
100 TB the recompute is the thing you can never afford, which is why
IVM is a first-class operator here.

Insert-only deltas (the training-data append pattern). Deletes/updates
need keyed retraction rows — out of scope until a consumer appears.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def incremental_join_delta(
    base_l: DataFrame,
    delta_l: DataFrame,
    base_r: DataFrame,
    delta_r: DataFrame,
    on: list[str] | str,
) -> DataFrame:
    """Rows ADDED to ``L ⋈ R`` by insert-deltas (ΔL, ΔR): the
    differential ``ΔL ⋈ (R ∪ ΔR) ∪ L ⋈ ΔR``.

    Scale shape: both branches join a delta-sized input against one
    full side — with deltas typically ≪ base, AQE broadcasts the delta
    side and the base is probed in place (no base×base work, no
    re-shuffle of the stored result). The two branches are disjoint by
    construction (second branch pairs OLD left rows only), so plain
    unionAll — no dedup pass.
    """
    cols = [on] if isinstance(on, str) else list(on)
    new_from_dl = delta_l.join(base_r.unionByName(delta_r), cols)
    new_from_dr = base_l.join(delta_r, cols)
    return new_from_dl.unionByName(new_from_dr)


def incremental_join_update(
    stored: DataFrame,
    base_l: DataFrame,
    delta_l: DataFrame,
    base_r: DataFrame,
    delta_r: DataFrame,
    on: list[str] | str,
) -> DataFrame:
    """The maintained view: stored result + join delta. Equal to
    ``(L ∪ ΔL) ⋈ (R ∪ ΔR)`` (asserted against the full recompute in
    tests and by the registered query's oracle) while touching the
    stored result only as an append target."""
    return stored.unionByName(
        incremental_join_delta(base_l, delta_l, base_r, delta_r, on)
    )
