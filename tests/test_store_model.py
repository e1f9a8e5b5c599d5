"""Model-based test of the managed store: random persist / delete / commit
and @NoCheck-style blind appends on an id-clustered multi-part table, with
one snapshot taken mid-sequence, checked against a plain dict model."""

import uuid

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from interference_spark.dml import store

# persist/delete draw from six ids spread over the three initial parts plus
# one new id, so re-inserts after deletes are common; blind appends use
# fresh ids from 1000 up, landing in parts no upsert's id range overlaps
_id = st.integers(0, 5).map(lambda k: 7 * k)
_op = st.one_of(
    st.tuples(st.just("persist"), _id, st.integers(-99, 99)),
    st.tuples(st.just("delete"), _id),
    st.tuples(st.just("commit")),
    st.tuples(st.just("append"), st.integers(1, 3)),
)


@settings(
    max_examples=6,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(ops=st.lists(_op, min_size=1, max_size=10), snap_at=st.integers(0, 10))
# a delete, then a later commit re-inserting the tombstoned id beside an
# insert into a pruned part, with the snapshot pinning the tombstone
@example(
    ops=[("delete", 7), ("commit",), ("append", 2), ("persist", 7, 5),
         ("persist", 35, 1), ("commit",), ("delete", 28), ("commit",)],
    snap_at=2,
)
def test_store_matches_dict_model(engine, ops, snap_at):
    name = f"M{uuid.uuid4().hex[:8]}"
    td = engine.register_table(name, "id long, val long", id_col="id")
    try:
        for start in (0, 10, 20):  # three id-clustered parts
            store.append_rows(td, [{"id": i, "val": i} for i in range(start, start + 10)])
        model = {i: i for i in range(30)}
        staged: list[tuple] = []
        next_fresh = 1000
        snap = None
        s = engine.session()
        for i, op in enumerate(ops + [("commit",)]):
            if i == snap_at:
                snap = (engine.snapshot_table(name), dict(model))
            if op[0] == "persist":
                s.persist(name, {"id": op[1], "val": op[2]})
                staged.append(op)
            elif op[0] == "delete":
                s.delete(name, op[1])
                staged.append(op)
            elif op[0] == "commit":
                s.commit()
                for kind, key, *val in staged:
                    if kind == "persist":
                        model[key] = val[0]
                    else:
                        model.pop(key, None)
                staged.clear()
            else:
                ids = range(next_fresh, next_fresh + op[1])
                next_fresh += op[1]
                store.append_rows(td, [{"id": k, "val": -k} for k in ids])
                model.update({k: -k for k in ids})
        s.close()
        rows = engine.table(name).collect()
        assert len(rows) == len({r["id"] for r in rows}), "one row per id"
        assert {r["id"]: r["val"] for r in rows} == model
        if snap is not None:
            sid, want = snap
            got = engine.read_table_snapshot(name, sid).collect()
            assert {r["id"]: r["val"] for r in got} == want
    finally:
        engine.drop_table(name)
