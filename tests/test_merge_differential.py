"""Differential test: the SQL-text merge (``operators/merge.py``)
against the Column-API merge it replaced (``tests/merge_reference.py``),
rows and dtypes of the returned state.

Cases: the hand-built scenarios of ``test_merge.py`` plus 240 draws from
``test_merge_property``'s Hypothesis strategies (keyless url-fallback
rows, duplicate in-batch keys, missing updated_date), with a map column
added. Every case gets its own key space — its id prefixes both
``offer_id`` and ``offer_url`` — so each variant folds all cases in one
merge call per engine.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

import tests.test_merge as test_merge
from rental_data_pipeline_spark.operators.merge import merge_listings
from tests.merge_reference import merge_listings as reference_merge
from tests.test_merge import BATCH_SCHEMA, STATE_SCHEMA, batch_row, state_row, ts
from tests.test_merge_property import _batch_entry, _state_entry

ATTRS = T.StructField("attrs", T.MapType(T.StringType(), T.StringType()))
STATE = T.StructType(STATE_SCHEMA.fields + [ATTRS])
BATCH = T.StructType(BATCH_SCHEMA.fields + [ATTRS])


class _Recorded(Exception):
    pass


def _scenario_cases(monkeypatch) -> list[tuple[list, list]]:
    """The (state, batch) rows of every ``test_merge.py`` scenario that
    goes through ``run_merge``, captured by running the test against a
    recorder that stops it at its first merge."""
    cases = []

    def record(spark, state_rows, batch_rows, **kwargs):
        cases.append((state_rows, batch_rows))
        raise _Recorded

    monkeypatch.setattr(test_merge, "run_merge", record)
    for name, fn in sorted(vars(test_merge).items()):
        if not name.startswith("test_") or name in (
            "test_differential_vs_reference",  # needs the reference tree
            "test_colliding_updated_date_deterministic_last_wins",  # own runner
        ):
            continue
        with pytest.raises(_Recorded):
            fn(None)
    monkeypatch.undo()
    return cases


def _property_cases(n: int) -> list[tuple[list, list]]:
    """``n`` derandomized draws of ``test_merge_property``'s inputs,
    built into rows the way that test builds them."""
    draws = []

    @settings(
        max_examples=n, derandomize=True, database=None, deadline=None,
        suppress_health_check=list(HealthCheck),
    )
    @given(
        st.lists(_state_entry, max_size=3, unique_by=lambda e: e["key"]),
        st.lists(_batch_entry, min_size=1, max_size=8),
    )
    def draw(state_entries, batch_entries):
        draws.append((state_entries, batch_entries))

    draw()
    cases = []
    for state_entries, batch_entries in draws:
        state_rows = [
            state_row(
                e["key"],
                offer_url=f"https://x/rent/flat/{e['key']}",
                price_value=e["price_value"],
                is_unpublished=e["is_unpublished"],
                description=e["description"],
                timestamp=f"ts{e['key']}",
                attrs={"d": e["description"]} if e["description"] else None,
            )
            for e in state_entries
        ]
        batch_rows = [
            batch_row(
                e["key"],
                i,
                offer_url=(
                    f"https://x/rent/flat/{e['day'] % 3 + 1}" if e["key"] is None else None
                ),
                price_value=e["price_value"],
                is_unpublished=e["is_unpublished"],
                description=e["description"],
                updated_date=ts(f"2026-01-0{e['day']}T10:00:00") if e["has_date"] else None,
                attrs={"d": e["description"], "day": str(e["day"])} if e["description"] else None,
            )
            for i, e in enumerate(batch_entries, start=1)
        ]
        cases.append((state_rows, batch_rows))
    return cases


def _frames(spark, cases):
    """One (target, source) pair holding every case under its own prefix."""

    def rows(case_rows, schema, cid):
        out = []
        for r in case_rows:
            r = dict(r)
            for k in ("offer_id", "offer_url"):
                if r.get(k) is not None:
                    r[k] = f"c{cid}:{r[k]}"
            out.append(tuple(r.get(f.name) for f in schema.fields))
        return out

    state = [r for cid, (s, _) in enumerate(cases) for r in rows(s, STATE, cid)]
    batch = [r for cid, (_, b) in enumerate(cases) for r in rows(b, BATCH, cid)]
    return spark.createDataFrame(state, STATE), spark.createDataFrame(batch, BATCH)


def _variants() -> dict[str, dict]:
    """Merge arguments per variant (built per call: Columns need Spark)."""
    return {
        "seq": dict(order_cols=["seq"]),
        "seq_guarded": dict(order_cols=["seq"], guard_out_of_order=True),
        "column_order_status": dict(
            order_cols=[F.col("seq").asc_nulls_first()], derive_status_col=True
        ),
        # default order (updated_date only): collisions fall to the hash
        # tiebreak
        "default_order_guarded_status": dict(
            guard_out_of_order=True, derive_status_col=True, drop_seq=True
        ),
    }


def test_sql_merge_matches_column_merge(spark, monkeypatch):
    cases = _scenario_cases(monkeypatch) + _property_cases(240)
    assert len(cases) >= 255
    target, source = _frames(spark, cases)
    target, source = target.cache(), source.cache()
    for name, kwargs in _variants().items():
        kwargs = dict(kwargs)
        src = source.drop("seq") if kwargs.pop("drop_seq", False) else source
        new = merge_listings(target, src, **kwargs)
        ref = reference_merge(target, src, **kwargs)
        assert new.dtypes == ref.dtypes, name
        new_rows = sorted(new.collect(), key=lambda r: r["offer_id"])
        ref_rows = sorted(ref.collect(), key=lambda r: r["offer_id"])
        assert len(new_rows) > 300, name
        assert new_rows == ref_rows, name
    target.unpersist()
    source.unpersist()
