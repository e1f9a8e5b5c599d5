"""The four workloads. Each builds a fixed-length op sequence from the seed
(its length is ``seconds`` times a per-workload calibration rate, so a run
does the same work whatever the host speed), warms every op type before
timing, verifies each op's output outside the timed region and checks the
final state against a Python or DuckDB reference.

Every workload is a closed loop with one client: the next op starts when
the previous one returned.
"""

from __future__ import annotations

import concurrent.futures
import io
import math
import os
import time

import numpy as np

from . import datagen

_NOW = time.perf_counter


class Op:
    __slots__ = ("kind", "fn", "arg")

    def __init__(self, kind: str, fn, arg=None) -> None:
        self.kind, self.fn, self.arg = kind, fn, arg


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs)


def _same_row(a, b) -> bool:
    """Row equality with a relative tolerance for doubles (sums may be
    accumulated in another order by each engine)."""
    if len(a) != len(b):
        return False
    for x, y in zip(a, b):
        if isinstance(x, float) or isinstance(y, float):
            if x is None or y is None or not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-6):
                return False
        elif x != y:
            return False
    return True


def _rows_equal(got, want) -> bool:
    return len(got) == len(want) and all(_same_row(a, b) for a, b in zip(got, want))


def _sort_key(row):
    return tuple((v is None, v if v is not None else 0) for v in row)


class Workload:
    name = ""
    #: ops per second on a 4-core host: sets the fixed sequence length,
    #: ceil(seconds * rate), for a given ``--seconds``
    rate = 1.0

    def __init__(self, engine, seed: int, seconds: int, work: str) -> None:
        self.engine, self.seed, self.seconds, self.work = engine, seed, seconds, work
        self.session = engine.session()
        self.items = 0
        self.extra: dict[str, float] = {}

    def n_ops(self) -> int:
        return max(1, math.ceil(self.seconds * self.rate))

    def latencies(self, op: Op, out, dt: float) -> list[tuple[str, float]]:
        """(op type, seconds) latency samples of one completed op."""
        return [(op.kind, dt)]

    def table_dirs(self) -> list[str]:
        return []

    def trace_points(self) -> list[tuple[object, str, str]]:
        """Extra (owner, attribute, span name) entry points to trace."""
        return []

    def last_batches(self):
        """Streaming progress marker taken before the timed ops (streams only)."""
        return None

    def stream_progress(self, since) -> dict | None:
        return None

    def stream_groups(self) -> list[str]:
        return []

    def close(self) -> None:
        self.session.close()


# ---------------------------------------------------------------------- oltp
class Oltp(Workload):
    """JPA object API on a managed @Id table of 50k accounts. A fixed
    20-op block repeats: 14 finds, 4 ten-row persist+commit upserts, one
    two-id delete+commit and one ten-row @NoCheck append (70/20/5/5). Ids
    are Zipf-skewed; upserts carry 2 new ids each."""

    name = "oltp"
    rate = 4.5
    N_ROWS = 50_000
    BLOCK = "FFUFFAFFUFFDFFUFFFUF"
    WARM = BLOCK  # one block warms every op type, tombstoned reads included

    def setup(self) -> None:
        from interference_spark.dml import store

        self.acct = self.engine.register_table(
            "Account", "id long, owner string, balance double, version long", id_col="id"
        )
        self.audit_td = self.engine.register_table(
            "AuditLog", "entry_id long, account_id long, amount double",
            id_col="entry_id", nocheck=True,
        )
        rows = datagen.accounts(self.seed, self.N_ROWS)
        store.append_rows(self.acct, rows)
        self.model = {r["id"]: r for r in rows}
        self.audit: list[tuple] = []
        self.g = datagen.rng(self.seed, 5)
        self.perm = self.g.permutation(self.N_ROWS)
        self.next_id = self.N_ROWS
        self.next_entry = 0
        self.version = 0

    def _ids(self, k: int) -> list[int]:
        return [int(self.perm[r]) for r in datagen.zipf_ranks(self.g, self.N_ROWS, k)]

    def _make(self, kind: str) -> Op:
        g = self.g
        self.version += 1
        if kind == "F":
            return Op("find", self._find, self._ids(1)[0])
        if kind == "U":
            ids = self._ids(8) + [self.next_id, self.next_id + 1]
            self.next_id += 2
            bal = np.round(g.uniform(0, 10_000, len(ids)), 2)
            rows = [
                {"id": i, "owner": f"user{i % 5000:04d}", "balance": float(b),
                 "version": self.version}
                for i, b in zip(ids, bal)
            ]
            return Op("upsert", self._upsert, rows)
        if kind == "D":
            return Op("delete", self._delete, self._ids(2))
        rows = []
        for a, amt in zip(self._ids(10), np.round(g.uniform(-500, 500, 10), 2)):
            rows.append({"entry_id": self.next_entry, "account_id": a, "amount": float(amt)})
            self.next_entry += 1
        return Op("append", self._append, rows)

    def warm_ops(self) -> list[Op]:
        return [self._make(k) for k in self.WARM]

    def ops(self) -> list[Op]:
        n = self.n_ops()
        return [self._make(self.BLOCK[i % len(self.BLOCK)]) for i in range(n)]

    def _find(self, i):
        return self.session.find("Account", i)

    def _upsert(self, rows):
        self.session.persist("Account", rows)
        self.session.commit()

    def _delete(self, ids):
        for i in ids:
            self.session.delete("Account", i)
        self.session.commit()

    def _append(self, rows):
        self.session.persist("AuditLog", rows)
        self.session.commit()

    def verify(self, op: Op, out) -> bool:
        """Check a find against the model; apply an acknowledged write."""
        self.items += 1
        if op.kind == "find":
            want = self.model.get(op.arg)
            return (out.asDict() if out is not None else None) == want
        if op.kind == "upsert":
            for r in op.arg:
                self.model[r["id"]] = r
        elif op.kind == "delete":
            for i in op.arg:
                self.model.pop(i, None)
        else:
            self.audit.extend((r["entry_id"], r["account_id"], r["amount"]) for r in op.arg)
        return True

    def table_dirs(self) -> list[str]:
        return [self.acct.path]

    def check(self) -> dict[str, bool]:
        import pyarrow as pa
        import pyarrow.parquet as pq

        rows = self.engine.table("Account").toPandas().to_dict("records")
        got = {r["id"]: r for r in rows}
        audit = sorted(tuple(r) for r in self.engine.table("AuditLog").collect())
        live = pa.Table.from_pylist(list(self.model.values()))
        buf = io.BytesIO()
        pq.write_table(live, buf, compression="zstd")
        disk = _dir_bytes(self.acct.path) + _dir_bytes(self.audit_td.path)
        self.extra["dml.store.space_amp"] = disk / buf.tell()
        return {
            # one row per id: a MERGE that left an old row beside the new
            # one would collapse into a single dict entry
            "oltp.final_table_equals_model": len(rows) == len(got) and got == self.model,
            "oltp.audit_log_equals_model": audit == sorted(self.audit),
        }


# ----------------------------------------------------------------- analytics
class Analytics(Workload):
    """Seed-parameterised dialect queries over a generated sf0.1 star
    schema, cycling through seven templates in a fixed order."""

    name = "analytics"
    rate = 3.5

    # name -> (dialect template, DuckDB template, ordered result?)
    TEMPLATES = {
        "point": (
            "select o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_totalprice "
            "from orders o where o.o_orderkey = {k}",
            "select o_orderkey, o_custkey, o_orderstatus, o_totalprice "
            "from orders where o_orderkey = {k}",
            False,
        ),
        "join2_group": (
            "select count(l.l_orderkey) cnt, sum(l.l_quantity) qty, o.o_orderpriority "
            "from orders o, lineitem l where o.o_orderkey = l.l_orderkey "
            "and o.o_orderstatus = '{st}' and o.o_totalprice > {p} "
            "group by o.o_orderpriority",
            "select count(l.l_orderkey), sum(l.l_quantity), o.o_orderpriority "
            "from orders o join lineitem l on o.o_orderkey = l.l_orderkey "
            "where o.o_orderstatus = '{st}' and o.o_totalprice > {p} "
            "group by o.o_orderpriority",
            False,
        ),
        "join3_group": (
            "select count(o.o_orderkey) cnt, sum(o.o_totalprice) total, n.n_name "
            "from nation n, customer c, orders o where n.n_nationkey = c.c_nationkey "
            "and c.c_custkey = o.o_custkey and c.c_mktsegment = '{seg}' "
            "and n.n_regionkey = {r} group by n.n_name",
            "select count(o.o_orderkey), sum(o.o_totalprice), n.n_name "
            "from nation n join customer c on n.n_nationkey = c.c_nationkey "
            "join orders o on c.c_custkey = o.o_custkey "
            "where c.c_mktsegment = '{seg}' and n.n_regionkey = {r} group by n.n_name",
            False,
        ),
        "window": (
            "select count(e.event_id) cnt, sum(e.user_id) su, min(e.value) mn "
            "from events e where e.event_id >= {a} and e.event_id < {b} "
            "window by e.event_id interval = 50",
            "select cnt, su, mn from (select count(event_id) over w cnt, "
            "sum(user_id) over w su, min(value) over w mn, "
            "row_number() over (order by event_id) rn from events "
            "where event_id >= {a} and event_id < {b} "
            "window w as (order by event_id rows between 49 preceding and current row)"
            ") where rn >= 50 order by rn",
            True,
        ),
        "topk": (
            "select o.o_orderkey, o.o_totalprice from orders o "
            "where o.o_orderpriority = '{prio}' and o.o_custkey < {c} "
            "order by o.o_orderkey limit 20",
            "select o_orderkey, o_totalprice from orders "
            "where o_orderpriority = '{prio}' and o_custkey < {c} "
            "order by o_orderkey limit 20",
            True,
        ),
        "in_subquery": (
            "select c.c_custkey, c.c_name from customer c where c.c_nationkey in "
            "[select n.n_nationkey from nation n where n.n_regionkey = {r}] "
            "and c.c_acctbal > {bal}",
            "select c_custkey, c_name from customer where c_nationkey in "
            "(select n_nationkey from nation where n_regionkey = {r}) "
            "and c_acctbal > {bal}",
            False,
        ),
        "left_join": (
            "select c.c_custkey, c.c_acctbal, o.o_orderkey, o.o_totalprice "
            "from customer c left join orders o "
            "on c.c_custkey = o.o_custkey and o.o_totalprice > {p} "
            "where c.c_acctbal > {bal}",
            "select c.c_custkey, c.c_acctbal, o.o_orderkey, o.o_totalprice "
            "from customer c left join orders o "
            "on c.c_custkey = o.o_custkey and o.o_totalprice > {p} "
            "where c.c_acctbal > {bal}",
            False,
        ),
    }

    def setup(self) -> None:
        data = os.path.join(self.work, "sf")
        os.makedirs(data)
        self.paths = datagen.tpch_tables(self.seed, data)
        for name, path in self.paths.items():
            self.engine.register_parquet(name, path)
        self.g = datagen.rng(self.seed, 6)
        #: template -> (params, rows) of every query run, warm-up and timed
        self.results: dict[str, list[tuple[dict, list]]] = {}

    def _params(self, name: str) -> dict:
        """Seeded parameters drawn from narrow ranges of equal-cost choices,
        so every seed gives each template about the same amount of work."""
        g = self.g
        if name == "point":
            return {"k": int(g.integers(1, 150_001))}
        if name == "join2_group":
            return {"st": "FO"[int(g.integers(0, 2))], "p": int(g.integers(290_000, 310_000))}
        if name == "join3_group":
            return {"seg": datagen.SEGMENTS[int(g.integers(0, 5))], "r": int(g.integers(0, 5))}
        if name == "window":
            a = int(g.integers(0, 95_000))
            return {"a": a, "b": a + 4000}
        if name == "topk":
            return {"prio": datagen.PRIORITIES[int(g.integers(0, 5))],
                    "c": int(g.integers(7000, 8000))}
        if name == "in_subquery":
            return {"r": int(g.integers(0, 5)), "bal": int(g.integers(9400, 9500))}
        return {"p": int(g.integers(395_000, 405_000)), "bal": int(g.integers(9400, 9500))}

    def _cycle(self, n: int) -> list[Op]:
        names = list(self.TEMPLATES)
        return [Op(names[i % len(names)], self._query, None) for i in range(n)]

    def warm_ops(self) -> list[Op]:
        ops = self._cycle(2 * len(self.TEMPLATES))
        for op in ops:
            op.arg = (op.kind, self._params(op.kind))
        return ops

    def ops(self) -> list[Op]:
        n = math.ceil(self.n_ops() / len(self.TEMPLATES)) * len(self.TEMPLATES)
        ops = self._cycle(n)
        for op in ops:
            op.arg = (op.kind, self._params(op.kind))
        return ops

    def _query(self, arg):
        name, params = arg
        return [tuple(r) for r in
                self.session.execute(self.TEMPLATES[name][0].format(**params)).collect()]

    def verify(self, op: Op, out) -> bool:
        """Keep the result; every one is compared with DuckDB in check()."""
        self.items += 1
        self.results.setdefault(op.kind, []).append((op.arg[1], out))
        return True

    def check(self) -> dict[str, bool]:
        import duckdb

        con = duckdb.connect()
        try:
            for name, path in self.paths.items():
                con.execute(f"create view {name} as select * from read_parquet('{path}')")
            res = {}
            for name, runs in self.results.items():
                _, duck, ordered = self.TEMPLATES[name]
                ok = True
                for params, got in runs:
                    want = [tuple(r) for r in con.execute(duck.format(**params)).fetchall()]
                    if not ordered:
                        got, want = sorted(got, key=_sort_key), sorted(want, key=_sort_key)
                    ok = ok and bool(want) and _rows_equal(got, want)
                res[f"analytics.{name}_equals_duckdb"] = ok
            return res
        finally:
            con.close()


# ----------------------------------------------------------------------- cep
class Cep(Workload):
    """Three SELECT STREAM queries (filter, tumbling GROUP BY, sliding
    WINDOW BY) over a managed @Id events table. Each op commits one
    200-event batch and waits until every stream has emitted; its latency
    runs from the commit to the last stream's emission (the three streams
    share the cores, so which one finishes first is close to random, while
    the time until all have emitted is steady)."""

    name = "cep"
    rate = 0.8
    BATCH = 200
    INTERVAL = 50
    WARM = 3
    STREAMS = {
        "filter": "select stream e.eventId, e.eventValue from Ev e where e.eventType = 1",
        "tumbling": "select stream sum(e.eventValue) s, count(e.eventId) c, e.groupValue "
                    "from Ev e group by e.groupValue",
        "sliding": "select stream count(e.eventId) c, sum(e.eventValue) s, max(e.eventId) m "
                   "from Ev e window by e.eventId interval = {n}",
    }

    def setup(self) -> None:
        self.engine.register_table(
            "Ev", "eventId long, eventType long, eventValue long, groupValue string",
            id_col="eventId", nocheck=True,
        )
        self.queues = {}
        for kind, sql in self.STREAMS.items():
            sq = self.session.execute(sql.format(n=self.INTERVAL))
            sq.bench_kind = kind
            self.queues[kind] = sq
        self.pool = concurrent.futures.ThreadPoolExecutor(len(self.queues))
        self.emitted = {k: [] for k in self.queues}
        self.events: list[dict] = []
        self.batches = iter(datagen.event_batches(self.seed, self.WARM + self.n_ops(), self.BATCH))

    def warm_ops(self) -> list[Op]:
        return [Op("commit", self._commit, next(self.batches)) for _ in range(self.WARM)]

    def ops(self) -> list[Op]:
        return [Op("commit", self._commit, b) for b in self.batches]

    def _drain(self, sq, t0):
        rows = sq.drain_available()
        return rows, _NOW() - t0

    def _commit(self, batch):
        t0 = _NOW()
        self.session.persist("Ev", batch)
        self.session.commit()
        futs = {k: self.pool.submit(self._drain, sq, t0) for k, sq in self.queues.items()}
        return {k: f.result() for k, f in futs.items()}

    def latencies(self, op: Op, out, dt: float) -> list[tuple[str, float]]:
        return [("commit_to_all_emitted", max(lat for _, lat in out.values()))]

    def verify(self, op: Op, out) -> bool:
        self.items += len(op.arg)
        self.events.extend(op.arg)
        ok = True
        for k, (rows, _) in out.items():
            self.emitted[k].extend(tuple(r) for r in rows)
            q = self.queues[k]._query
            ok = ok and bool(rows) and q.isActive and q.exception() is None
        return ok

    def stream_groups(self) -> list[str]:
        return [str(sq._query.runId) for sq in self.queues.values()]

    def stream_progress(self, since_batch: dict[str, int]) -> dict | None:
        """Micro-batches, trigger time and state size from each query's
        ``recentProgress`` for batches after ``since_batch``."""
        batches, trig, state = 0, 0.0, 0
        for k, sq in self.queues.items():
            prog = [p for p in sq._query.recentProgress
                    if p["batchId"] > since_batch.get(k, -1) and p["numInputRows"] > 0]
            batches += len(prog)
            trig += sum(p["durationMs"].get("triggerExecution", 0) for p in prog)
            last = sq._query.lastProgress
            if last:
                state += sum(s.get("memoryUsedBytes", 0) for s in last.get("stateOperators", []))
        return {"batches": batches, "trigger_ms": trig, "state_bytes": state}

    def last_batches(self) -> dict[str, int]:
        return {k: (sq._query.lastProgress or {"batchId": -1})["batchId"]
                for k, sq in self.queues.items()}

    def check(self) -> dict[str, bool]:
        ev = sorted(self.events, key=lambda e: e["eventId"])
        filt = [(e["eventId"], e["eventValue"]) for e in ev if e["eventType"] == 1]
        tumb, run = [], None
        for e in ev:
            if run and run[0] != e["groupValue"]:
                tumb.append((run[1], run[2], run[0]))
                run = None
            if run is None:
                run = [e["groupValue"], 0, 0]
            run[1] += e["eventValue"]
            run[2] += 1
        vals = [e["eventValue"] for e in ev]
        n = self.INTERVAL
        slide = [(n, sum(vals[i - n + 1:i + 1]), ev[i]["eventId"]) for i in range(n - 1, len(ev))]
        return {
            "cep.filter_equals_python": sorted(self.emitted["filter"]) == filt,
            "cep.tumbling_equals_python":
                sorted(self.emitted["tumbling"], key=lambda r: r[2]) == tumb,
            "cep.sliding_equals_python":
                sorted(self.emitted["sliding"], key=lambda r: r[2]) == slide,
        }

    def close(self) -> None:
        self.session.close()
        self.pool.shutdown(wait=True)


# ------------------------------------------------------------------ curation
class Curation(Workload):
    """The six pipeline stages over a 5500-document seeded corpus with 10%
    exact and 10% near duplicates. One op is one pass: all six stages in a
    fixed order, each result consumed by the benchmark."""

    name = "curation"
    rate = 0.16
    N_DOCS = 5500
    STAGES = ("exact_dedup", "minhash_dedup_pairs", "quality_features",
              "chunk_documents", "token_count_stats", "bpe_train")

    def setup(self) -> None:
        self.docs = datagen.corpus(self.seed, self.N_DOCS)
        path = datagen.write_corpus(self.docs, os.path.join(self.work, "corpus.parquet"))
        self.engine.register_parquet("docs", path)
        self.first: dict[str, object] = {}

    def warm_ops(self) -> list[Op]:
        return [Op("pass", self._pass, False)]

    def ops(self) -> list[Op]:
        return [Op("pass", self._pass, True) for _ in range(self.n_ops())]

    def _pass(self, _timed: bool) -> dict:
        df = self.engine.table("docs")
        return {s: getattr(self, s)(df) for s in self.STAGES}

    # one method per stage: each calls the package function and consumes its
    # result, so the traced span of a stage covers its Spark execution too
    def exact_dedup(self, df):
        from interference_spark.pipeline import dedup

        return sorted(tuple(r) for r in dedup.exact_dedup(df).collect())

    def minhash_dedup_pairs(self, df):
        from interference_spark import pipeline
        from interference_spark.pipeline import dedup

        try:
            return sorted((r[0], r[1]) for r in dedup.minhash_dedup_pairs(df).collect())
        finally:
            # the signature cache must not survive into the next pass
            pipeline.release_caches()

    def quality_features(self, df):
        from interference_spark.pipeline import text

        text.quality_features(df).drop("text").write.format("noop").mode("overwrite").save()

    def chunk_documents(self, df):
        from interference_spark.pipeline import text

        text.chunk_documents(df, chunk_tokens=64, overlap=8).write.format("noop") \
            .mode("overwrite").save()

    def token_count_stats(self, df):
        from interference_spark.pipeline import text

        return tuple(text.token_count_stats(df).collect()[0])

    def bpe_train(self, df):
        from interference_spark.pipeline import bpe

        merges, _ = bpe.bpe_train(df, n_merges=8)
        return [tuple(r) for r in merges.collect()]

    def trace_points(self) -> list[tuple[object, str, str]]:
        return [(Curation, s, f"pipeline.{s}") for s in self.STAGES]

    def verify(self, op: Op, out) -> bool:
        if op.arg:
            self.items += self.N_DOCS
        self.extra["pipeline.minhash_pairs"] = len(out["minhash_dedup_pairs"])
        if not self.first:
            self.first = out
        return out == self.first  # every pass reproduces the first exactly

    def check(self) -> dict[str, bool]:
        groups: dict[str, list[int]] = {}
        for i, t in enumerate(self.docs):
            groups.setdefault(t, []).append(i)
        exact = sorted((min(ids), len(ids)) for ids in groups.values())
        tc = sorted(len(t.split(" ")) for t in self.docs)
        n = len(tc)
        stats = (n, sum(tc), *(tc[math.ceil(p * n) - 1] for p in (0.5, 0.9, 0.99)))
        return {
            "curation.exact_dedup_equals_python": self.first.get("exact_dedup") == exact,
            "curation.token_count_stats_equals_python":
                self.first.get("token_count_stats") == stats,
            "curation.minhash_pairs_found": bool(self.first.get("minhash_dedup_pairs")),
        }


WORKLOADS = {w.name: w for w in (Oltp, Analytics, Cep, Curation)}
