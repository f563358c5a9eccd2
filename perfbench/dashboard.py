"""dashboard_ingest: a live dashboard over tables that keep ingesting.

A Zipf-skewed stream picks from six fixed dashboard SELECTs over a
UNIQUE-KEY ``accounts`` table and an AGGREGATE-KEY ``daily_sales``
table, joined to the star schema's ``nation`` and ``region``. Each
cycle commits one ingest micro-batch, a labeled ``sources.stream_load``
into each table where account batches mix updates of live keys with
new keys, and then reads ``READS_PER_WRITE`` tiles. When a table's live
rowsets pass ``COMPACT_ABOVE`` the client calls ``Table.compact()``
inside that write, so compaction stalls show in write latency.

Reads and writes share the tables, so the result cache's hit path,
its invalidation on every commit, merge-on-read amplification and
compaction all show. Every read is checked, untimed, against an
in-process model of every committed batch.
"""

from __future__ import annotations

import itertools
import os
import time

import gen
from harness import Bench, du, noop_sink

#: the star schema only supplies the nation/region dimensions here
SF = 0.01
INITIAL_ACCOUNTS = 2_000
INITIAL_SALES = 1_000
ACCOUNT_ROWS = 300
SALES_ROWS = 150
UPDATE_SHARE = 0.7
READS_PER_WRITE = 3
COMPACT_ABOVE = 3
#: cycles per block: each table gets 2 x COMPACT_ABOVE batches and
#: compacts twice per block, so every run has the same share of
#: compacting writes (a run is at least one block)
BLOCK = 2 * COMPACT_ABOVE
ZIPF_S = 1.1
#: a block's tile sequence is Zipf-sampled from this fixed seed, not from
#: the run's seed: every block of every run then has the same read/write
#: and hit/miss pattern, and only the data differs between seeds. Seed
#: 28 is the first whose block reads every tile (two reads are hits).
SCHEDULE_SEED = 28

_DIMS = (
    "JOIN nation ON {k} = n_nationkey JOIN region ON n_regionkey = r_regionkey"
)

#: name -> SQL, in Zipf rank order (the first is the hottest)
QUERIES = {
    "tier_balance": "SELECT tier, COUNT(*) AS n, SUM(balance_cents) AS bal "
                    "FROM accounts GROUP BY tier ORDER BY tier",
    "region_revenue": "SELECT r_name, SUM(revenue_cents) AS rev FROM daily_sales "
                      + _DIMS.format(k="nation_key") + " GROUP BY r_name ORDER BY r_name",
    "recent_revenue": "SELECT sale_day, SUM(revenue_cents) AS rev, SUM(orders) AS o "
                      "FROM daily_sales WHERE sale_day >= 46 "
                      "GROUP BY sale_day ORDER BY sale_day",
    "region_balance": "SELECT r_name, COUNT(*) AS n, SUM(balance_cents) AS bal "
                      "FROM accounts " + _DIMS.format(k="c_nationkey")
                      + " GROUP BY r_name ORDER BY r_name",
    "top_accounts": "SELECT c_custkey, balance_cents FROM accounts "
                    "ORDER BY balance_cents DESC, c_custkey LIMIT 10",
    "nation_overview": "SELECT n_name, a.n AS accounts, s.rev FROM "
                       "(SELECT c_nationkey, COUNT(*) AS n FROM accounts GROUP BY c_nationkey) a "
                       "JOIN (SELECT nation_key, SUM(revenue_cents) AS rev FROM daily_sales "
                       "GROUP BY nation_key) s ON a.c_nationkey = s.nation_key "
                       "JOIN nation ON n_nationkey = a.c_nationkey ORDER BY n_name",
}
TABLES_OF = {
    name: [t for t in ("accounts", "daily_sales") if t in sql]
    for name, sql in QUERIES.items()
}


# ------------------------------------------------------------- the model

class Model:
    """Every committed batch, applied the way the table models define."""

    def __init__(self) -> None:
        self.accounts: dict[int, tuple] = {}
        self.sales: dict[tuple[int, int], list[int]] = {}

    def upsert_accounts(self, rows) -> None:
        for r in rows:
            self.accounts[r[0]] = r

    def add_sales(self, rows) -> None:
        for day, nat, rev, orders, mx in rows:
            cur = self.sales.get((day, nat))
            if cur is None:
                self.sales[(day, nat)] = [rev, orders, mx]
            else:
                cur[0] += rev
                cur[1] += orders
                cur[2] = max(cur[2], mx)

    def expect(self, name: str) -> list[tuple]:
        acc, sales = self.accounts.values(), self.sales.items()
        region = {n: gen.REGIONS[n % 5] for n in range(25)}

        def grouped(pairs, fold, init):
            out: dict = {}
            for k, v in pairs:
                out[k] = fold(out.get(k, init), v)
            return out

        if name == "tier_balance":
            g = grouped(((a[3], a[2]) for a in acc), lambda s, b: (s[0] + 1, s[1] + b), (0, 0))
            return [(k, *g[k]) for k in sorted(g)]
        if name == "region_revenue":
            g = grouped(((region[k[1]], v[0]) for k, v in sales), lambda s, r: s + r, 0)
            return [(k, g[k]) for k in sorted(g)]
        if name == "recent_revenue":
            g = grouped(((k[0], (v[0], v[1])) for k, v in sales if k[0] >= 46),
                        lambda s, x: (s[0] + x[0], s[1] + x[1]), (0, 0))
            return [(k, *g[k]) for k in sorted(g)]
        if name == "region_balance":
            g = grouped(((region[a[1]], a[2]) for a in acc), lambda s, b: (s[0] + 1, s[1] + b), (0, 0))
            return [(k, *g[k]) for k in sorted(g)]
        if name == "top_accounts":
            return sorted(((a[0], a[2]) for a in acc), key=lambda t: (-t[1], t[0]))[:10]
        if name == "nation_overview":
            n_acc = grouped(((a[1], 1) for a in acc), lambda s, x: s + x, 0)
            rev = grouped(((k[1], v[0]) for k, v in sales), lambda s, r: s + r, 0)
            rows = [(f"NATION_{n}", n_acc[n], rev[n]) for n in n_acc if n in rev]
            return sorted(rows)
        raise KeyError(name)


# ------------------------------------------------------------- workload

def user_bytes(rows: list[tuple], schema: str) -> int:
    """Arrow bytes of a generated batch: what the user handed over."""
    import pyarrow as pa

    names = [c.split()[0] for c in schema.split(",")]
    return pa.Table.from_pylist([dict(zip(names, r)) for r in rows]).nbytes


def block_schedule() -> list[str]:
    """The tiles one block reads, in order: Zipf-skewed, the same in
    every block of every run."""
    import numpy as np

    names = list(QUERIES)
    w = np.array([1.0 / (k + 1) ** ZIPF_S for k in range(len(names))])
    rng = np.random.default_rng(SCHEDULE_SEED)
    return [names[k] for k in rng.choice(len(names), BLOCK * READS_PER_WRITE, p=w / w.sum())]


def setup_round(bench: Bench, r: int) -> dict:
    from palo_spark import sources
    from palo_spark.catalog import register_views
    from palo_spark.palo_session import PaloSession

    star = os.path.join(bench.run_dir, "star")
    if r == 0:
        gen.write_star(bench.seed, SF, star)
    spark = bench.start_session()
    register_views(spark, star)
    wh = os.path.join(bench.run_dir, f"wh{r}")
    ps = PaloSession(spark, location_root=wh, result_cache=True)
    ps.sql(gen.ACCOUNTS_DDL)
    ps.sql(gen.SALES_DDL)
    rng = gen.rng_for(bench.seed, "dashboard")
    model = Model()
    acc = gen.accounts_batch(rng, 0, max(50, int(INITIAL_ACCOUNTS * bench.scale)), 0.0)
    sal = gen.sales_batch(rng, max(50, int(INITIAL_SALES * bench.scale)))
    sources.stream_load(ps.tables["accounts"], spark.createDataFrame(acc, gen.ACCOUNTS_SCHEMA), "init-a")
    sources.stream_load(ps.tables["daily_sales"], spark.createDataFrame(sal, gen.SALES_SCHEMA), "init-s")
    model.upsert_accounts(acc)
    model.add_sales(sal)
    return {
        "ps": ps, "rng": rng, "model": model, "wh": wh,
        "live_keys": len(model.accounts), "batches": 0,
        "schedule": itertools.cycle(block_schedule()),
        "insert_bytes": 0, "compact_bytes": 0,
        "user_bytes": user_bytes(acc, gen.ACCOUNTS_SCHEMA) + user_bytes(sal, gen.SALES_SCHEMA),
    }


def warm(bench: Bench, state: dict) -> None:
    """Untimed: one micro-batch with a compaction of both tables, then
    every tile once, so the timed cycles start with every code path
    compiled and both tables at one rowset."""
    batches = _next_batches(state)
    _ingest(bench, state, batches, state["batches"], {"force_compact": True})
    _commit_to_model(bench, state, batches)
    for sql in QUERIES.values():
        noop_sink(state["ps"].sql(sql))


def _read(bench: Bench, state: dict) -> None:
    name = next(state["schedule"])
    ps = state["ps"]
    box = {}
    if bench.tracing_cycle:
        box["live_rowsets"] = sum(
            len(ps.tables[t].meta.rowsets) for t in TABLES_OF[name]
        )

    def run():
        df = ps.sql(QUERIES[name])
        t1 = time.perf_counter()
        noop_sink(df)
        box["exec_s"] = time.perf_counter() - t1
        box["hit"] = ps.last_cache_hit
        return df

    df, op = bench.op("read", run, template=name)
    op.info.update(box)
    if df is None:
        return
    with bench.untimed():
        got = [tuple(r) for r in df.collect()]
        op.rows = len(got)
        want = state["model"].expect(name)
        bench.checks += 1
        if got != want:
            op.info["wrong"] = True
            bench.fail(f"read {name}: {len(got)} rows differ from the model's {len(want)}")


def _ingest(bench: Bench, state: dict, batches, b: int, info: dict) -> None:
    """Commit one micro-batch; compact each table past COMPACT_ABOVE."""
    from palo_spark import sources

    ps, spark = state["ps"], bench.spark
    for tname, schema, rows in batches:
        table = ps.tables[tname]
        label = f"{tname}-{bench.seed}-{b}"
        v = sources.stream_load(table, spark.createDataFrame(rows, schema), label=label)
        if v < 0:
            raise RuntimeError(f"label {label} rejected as already applied")
        if bench.tracer:
            with bench.untimed():
                state["insert_bytes"] += du(table.meta.rowsets[-1]["path"])
        if len(table.meta.rowsets) > COMPACT_ABOVE or info.get("force_compact"):
            table.compact()
            info["compacted"] = True
            if bench.tracer:
                with bench.untimed():
                    state["compact_bytes"] += du(table.meta.rowsets[-1]["path"])


def _next_batches(state: dict) -> list:
    """Account upserts plus the matching daily sales deltas."""
    state["batches"] += 1
    rng = state["rng"]
    return [
        ("accounts", gen.ACCOUNTS_SCHEMA,
         gen.accounts_batch(rng, state["live_keys"], ACCOUNT_ROWS, UPDATE_SHARE)),
        ("daily_sales", gen.SALES_SCHEMA, gen.sales_batch(rng, SALES_ROWS)),
    ]


def _commit_to_model(bench: Bench, state: dict, batches) -> None:
    state["model"].upsert_accounts(batches[0][2])
    state["live_keys"] = len(state["model"].accounts)
    state["model"].add_sales(batches[1][2])
    if bench.tracer:
        state["user_bytes"] += sum(user_bytes(rows, schema) for _t, schema, rows in batches)


def _write(bench: Bench, state: dict) -> None:
    """One ingest micro-batch, each table's part committed by its own
    labeled stream load, timed from submit to the last commit."""
    batches = _next_batches(state)
    b = state["batches"]
    info = {"compacted": False}

    def run():
        _ingest(bench, state, batches, b, info)
        return b

    _, op = bench.op("write", run, rows=sum(len(rows) for _t, _s, rows in batches))
    if op.info["failed"]:
        return
    op.info.update(info)
    _commit_to_model(bench, state, batches)


def cycle(bench: Bench, state: dict) -> None:
    _write(bench, state)
    for _ in range(READS_PER_WRITE):
        _read(bench, state)


def finish(bench: Bench, state: dict) -> None:
    bench.layer_extra = {
        "insert_bytes": state["insert_bytes"],
        "compact_bytes": state["compact_bytes"],
        "user_bytes": state["user_bytes"],
        "warehouse_bytes": du(state["wh"]),
    }
