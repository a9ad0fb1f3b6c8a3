"""ForeignKey semantics against a pure-Python reference.

Each case pins the violation multiset the engine must emit for one
referential edge case: NULL foreign keys, partly-NULL multi-column
keys, duplicate and NULL dim keys, an empty dim, two shapes sharing a
foreign key, a row violating both a row constraint and a foreign key,
and dims on either side of 1024 rows. The plan check pins that every
distinct foreign key is one broadcast probe, never a sort-merge.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.abspath(os.path.join(os.path.dirname(__file__), "..")))

from xpshacl_spark.compiler import ValidationEngine
from xpshacl_spark.shapes import ForeignKey, MaxInclusive, Shape

_FK = ForeignKey(("fk",), "d", ("id",))
_ROWS = [(1, 1, 0), (2, None, 0), (3, 5, 11), (4, 5, 0), (5, 2, 20)]
_FACT = "k int, fk int, x int"


def _case(rows, dim, shapes, schema=_FACT, dim_schema="id int"):
    return dict(rows=rows, schema=schema, dim=dim, dim_schema=dim_schema, shapes=shapes)


CASES = {
    "null_fk_passes": _case(_ROWS, [(1,), (2,)], [Shape("s", (_FK,))]),
    "multi_column_one_null_passes": _case(
        [(1, 1, 2), (2, 1, None), (3, None, 9), (4, 1, 3), (5, None, None)],
        [(1, 2), (7, 8)],
        [Shape("s", (ForeignKey(("a", "b"), "d", ("x", "y")),))],
        schema="k int, a int, b int",
        dim_schema="x int, y int",
    ),
    # row 5 (fk 2, x 20) matches a key the dim holds three times and
    # violates MaxInclusive: it must still be reported once
    "dim_duplicate_keys": _case(
        _ROWS,
        [(1,), (1,), (2,), (2,), (2,)],
        [Shape("s", (MaxInclusive("x", 10), _FK))],
    ),
    "dim_null_key": _case(_ROWS, [(1,), (None,)], [Shape("s", (_FK,))]),
    "empty_dim": _case(_ROWS, [], [Shape("s", (_FK,))]),
    "two_shapes_share_one_fk": _case(
        _ROWS, [(1,)], [Shape("s1", (_FK,)), Shape("s2", (_FK,))]
    ),
    "row_and_fk_violation": _case(
        _ROWS, [(1,), (2,)], [Shape("s", (MaxInclusive("x", 10), _FK))]
    ),
    "dim_1024_rows": _case(
        [(i, v, 0) for i, v in enumerate([0, 1023, 1024, 1025, 5000, None])],
        [(i,) for i in range(1024)],
        [Shape("s", (_FK,))],
    ),
    "dim_1025_rows": _case(
        [(i, v, 0) for i, v in enumerate([0, 1023, 1024, 1025, 5000, None])],
        [(i,) for i in range(1025)],
        [Shape("s", (_FK,))],
    ),
}


def _expected(case) -> list:
    """(k, shape_id, component, value, context) per violation, from
    plain Python: a foreign key with any NULL column is absent and
    passes; otherwise it violates unless its tuple is a dim key."""
    names = [f.split()[0] for f in case["schema"].split(", ")]
    dnames = [f.split()[0] for f in case["dim_schema"].split(", ")]
    dim = [dict(zip(dnames, d)) for d in case["dim"]]
    out = []
    for row in case["rows"]:
        rec = dict(zip(names, row))
        for s in case["shapes"]:
            for c in s.constraints:
                if isinstance(c, MaxInclusive):
                    v = rec[c.column]
                    if v is not None and v > c.bound:
                        out.append((rec["k"], s.shape_id, c.component(), str(v), None))
                    continue
                fk = tuple(rec[x] for x in c.columns)
                keys = {tuple(d[rc] for rc in c.ref_columns) for d in dim}
                if None not in fk and fk not in keys:
                    ctx = {"refTable": c.ref_table, "refColumns": ",".join(c.ref_columns)}
                    out.append(
                        (rec["k"], s.shape_id, c.component(), "|".join(map(str, fk)), ctx)
                    )
    return sorted(out, key=repr)


@pytest.mark.parametrize("name", sorted(CASES))
def test_fk_matches_reference(spark, name):
    case = CASES[name]
    df = spark.createDataFrame(case["rows"], case["schema"])
    dim = spark.createDataFrame(case["dim"], case["dim_schema"])
    rep = ValidationEngine(spark, dims={"d": dim}).validate(df, case["shapes"], ["k"])
    plan = rep.violations._jdf.queryExecution().executedPlan().toString()
    n_fks = len({c for s in case["shapes"] for c in s.join_constraints()})
    assert plan.count("BroadcastHashJoin") == n_fks, plan
    assert "SortMergeJoin" not in plan, plan

    got = sorted(
        (
            (r["k"], r["shape_id"], r["constraint_component"], r["value"], r["context"])
            for r in rep.violations.collect()
        ),
        key=repr,
    )
    assert got == _expected(case)
