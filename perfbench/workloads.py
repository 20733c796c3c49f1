"""The benchmark's workloads: seeded inputs, operations and output checks.

Each workload owns its generated inputs (under a per-run work directory),
registers the package's sources on a session, and yields operations.  An
operation's ``build`` is the package call that returns a DataFrame; its
``collect`` is the action; its ``expected`` rows come from an oracle that
never runs the package's Spark code: Python sums over the generator's golden
rows (``node_scan``), DuckDB over the golden parquet tables (``chain_sql``)
and a one-pass Python ledger (``ledger_tail``).
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

import chaingen
from node import NodeProcess

# node_scan serves a 2,000-block chain; its queries cover 200-600 blocks.
SCAN_BLOCKS = 2000
# chain_sql: over three times the repo's 2,400-block fixture, where
# per-query work is no longer dwarfed by the fixed per-query overhead.
SQL_BLOCKS = 8000
# ledger_tail: an unmeasured first drain over LEDGER_WARM blocks starts the
# Python workers, a backfill drains up to LEDGER_BACKFILL, then the node
# appends TAIL_STEP blocks every TAIL_INTERVAL_S seconds.  A drain takes
# 3-5 s on 4 cores whatever its size, so at this rate the consumer is idle
# when blocks appear and the lag is one drain, not a backlog whose size
# depends on the phase of the schedule (at 5 s a slow drain overran the
# interval and the lag jumped by half).  A 24 s run sees four steps.
LEDGER_BLOCKS = 2000
LEDGER_WARM = 100
LEDGER_BACKFILL = 1200
TAIL_STEP = 40
TAIL_INTERVAL_S = 6.5


@dataclass
class Op:
    name: str
    build: Callable  # spark -> DataFrame, through the package's API
    expected: list  # normalized rows, sorted
    blocks: int = 0  # blocks the predicate covers (node_scan)
    scan: Callable | None = None  # spark -> the scan DataFrame (partition count)
    float_tol: bool = False  # double sums whose order the engine chooses


def norm(v):
    """check_battery-style canonical value: floats compare as float64,
    everything else by type and value."""
    if isinstance(v, float):
        return ("f", "nan") if math.isnan(v) else ("f", float(v))
    if v is None:
        return ("null",)
    if isinstance(v, (list, tuple)):
        return ("l",) + tuple(norm(x) for x in v)
    if isinstance(v, bool):
        return ("int", int(v))
    if isinstance(v, int):
        return ("int", v)
    return (type(v).__name__, v)


def norm_rows(rows) -> list:
    return sorted(tuple(norm(x) for x in r) for r in rows)


def rows_match(op: Op, rows) -> bool:
    got = norm_rows(rows)
    if got == op.expected:
        return True
    if not op.float_tol or len(got) != len(op.expected):
        return False
    for g, w in zip(got, op.expected):
        for a, b in zip(g, w):
            if a == b:
                continue
            if a[0] != "f" or b[0] != "f":
                return False
            if abs(a[1] - b[1]) > 1e-9 * max(1.0, abs(a[1]), abs(b[1])):
                return False
    return True


class Workload:
    name = ""
    chain_blocks = 0
    warm = 0  # operations run once, unmeasured, before measuring

    def __init__(self, seed: int, work: Path, workers: int):
        self.seed = seed
        self.work = work
        self.rng = random.Random(f"{self.name}/{seed}")
        self.chain = chaingen.generate_chain(seed, self.chain_blocks, workers)
        self.node: NodeProcess | None = None

    def register(self, spark) -> None:
        """Per-session registration of the package's sources."""

    def probe(self, spark) -> None:
        """Resolve one of the registered sources (no Spark job)."""

    def close(self) -> None:
        if self.node is not None:
            self.node.close()
            self.node = None


def _register_rpc_sources(spark) -> None:
    from presto_ethereum_spark.sources.rpc import (
        EthereumDataSource,
        EthereumPushdownDataSource,
    )

    spark.dataSource.register(EthereumDataSource)
    spark.dataSource.register(EthereumPushdownDataSource)


class NodeScan(Workload):
    """Closed loop, one client: JSON-RPC scans through the three data
    source entry points, both erc20 log modes, block-range, timestamp and
    disjunctive predicates, and one chain-state enrichment."""

    name = "node_scan"
    chain_blocks = SCAN_BLOCKS

    def __init__(self, seed, work, workers):
        super().__init__(seed, work, workers)
        chaingen.write_parquet(self.chain, work)
        self.gold = chaingen.goldens(self.chain)
        self.ops = self._ops()
        # one unmeasured pass: Python workers up, every query shape warm
        self.warm = len(self.ops)
        self.node = NodeProcess(work / "chain_blocks.parquet", seed)

    def register(self, spark):
        _register_rpc_sources(spark)

    def probe(self, spark):
        self._read(spark, "block", 1, 10).schema

    def _read(self, spark, table, lo=None, hi=None, fmt="ethereum", **opts):
        r = spark.read.format(fmt).option("table", table).option("url", self.node.url)
        if lo is not None:
            r = r.option("start_block", lo).option("end_block", hi)
        for k, v in opts.items():
            r = r.option(k, v)
        return r.load()

    def _ops(self) -> list[Op]:
        from pyspark.sql import functions as F

        rng, n = self.rng, self.chain_blocks
        blocks = {r["block_number"]: r for r in self.gold["block"]}
        txs, erc = self.gold["transaction"], self.gold["erc20"]

        def window(width):
            lo = rng.randint(1, n - width)
            return lo, lo + width - 1

        ops = []
        a, b = window(600)
        sel = [blocks[i] for i in range(a, b + 1)]
        ops.append(Op(
            "block_range",
            lambda s, a=a, b=b: self._read(s, "block", a, b).agg(
                F.count("*"), F.sum("block_size"), F.sum("block_gasused"),
                F.max("block_timestamp")),
            norm_rows([(len(sel), sum(r["block_size"] for r in sel),
                        float(sum(r["block_gasused"] for r in sel)),
                        max(r["block_timestamp"] for r in sel))]),
            blocks=b - a + 1,
            scan=lambda s, a=a, b=b: self._read(s, "block", a, b),
        ))

        a, b = window(600)
        pred = f"tx_blocknumber BETWEEN {a} AND {b}"
        sel = [r for r in txs if a <= r["tx_blocknumber"] <= b]
        ops.append(Op(
            "tx_pushdown",
            lambda s, pred=pred: self._read(
                s, "transaction", fmt="ethereum-pushdown").where(pred).agg(
                F.count("*"), F.sum("tx_nonce"), F.sum("tx_gas")),
            norm_rows([(len(sel), sum(r["tx_nonce"] for r in sel),
                        float(sum(r["tx_gas"] for r in sel)))]),
            blocks=b - a + 1,
            scan=lambda s, pred=pred: self._read(
                s, "transaction", fmt="ethereum-pushdown").where(pred),
        ))

        a, b = window(400)
        sel = [r for r in erc if a <= r["erc20_blocknumber"] <= b]
        expected = norm_rows([(len(sel), sum(r["erc20_blocknumber"] for r in sel),
                               math.fsum(r["erc20_value"] for r in sel))])
        for mode in ("receipts", "eth_getLogs"):
            ops.append(Op(
                f"erc20_{mode.lower()}",
                lambda s, a=a, b=b, mode=mode: self._read(
                    s, "erc20", a, b, logs_mode=mode).agg(
                    F.count("*"), F.sum("erc20_blocknumber"), F.sum("erc20_value")),
                expected, blocks=b - a + 1, float_tol=True,
                scan=lambda s, a=a, b=b, mode=mode: self._read(
                    s, "erc20", a, b, logs_mode=mode),
            ))

        a, b = window(600)
        t_lo, t_hi = blocks[a]["block_timestamp"], blocks[b]["block_timestamp"]
        pred = f"block_timestamp BETWEEN {t_lo} AND {t_hi}"
        sel = [r for r in blocks.values() if t_lo <= r["block_timestamp"] <= t_hi]
        ops.append(Op(
            "block_timestamp",
            lambda s, pred=pred: self._read(
                s, "block", fmt="ethereum-pushdown").where(pred).agg(
                F.count("*"), F.sum("block_number")),
            norm_rows([(len(sel), sum(r["block_number"] for r in sel))]),
            blocks=len(sel),
            scan=lambda s, pred=pred: self._read(
                s, "block", fmt="ethereum-pushdown").where(pred),
        ))

        (a, b), (c, d) = window(200), window(200)
        where = (f"tx_blocknumber BETWEEN {a} AND {b} "
                 f"OR tx_blocknumber BETWEEN {c} AND {d}")
        sel = [r for r in txs if a <= r["tx_blocknumber"] <= b
               or c <= r["tx_blocknumber"] <= d]

        def islands(s, where=where):
            from presto_ethereum_spark.sources.rpc import read_ethereum_where

            return read_ethereum_where(s, "transaction", where, url=self.node.url)

        ops.append(Op(
            "tx_islands",
            lambda s: islands(s).agg(F.count("*"), F.sum("tx_nonce")),
            norm_rows([(len(sel), sum(r["tx_nonce"] for r in sel))]),
            blocks=len(set(range(a, b + 1)) | set(range(c, d + 1))),
            scan=islands,
        ))

        a, b = window(300)
        senders = sorted({r["tx_from"] for r in txs if a <= r["tx_blocknumber"] <= b})
        states = [chaingen.account_state(self.seed, x) for x in senders]

        def enrich(s, a=a, b=b):
            from presto_ethereum_spark.functions.web3 import (
                RpcBackend,
                make_chain_state_udfs,
            )

            udfs = make_chain_state_udfs(RpcBackend(self.node.url))
            latest = F.lit("latest")
            return (
                self._read(s, "transaction", a, b).select("tx_from").distinct()
                .select(udfs["eth_getBalance"]("tx_from", latest).alias("bal"),
                        udfs["isContract"]("tx_from", latest).alias("code"))
                .agg(F.count("*"), F.sum("bal"), F.sum(F.col("code").cast("int")))
            )

        ops.append(Op(
            "enrich_balances",
            enrich,
            norm_rows([(len(senders), float(sum(st[0] for st in states)),
                        sum(st[2] != "0x" for st in states))]),
            blocks=b - a + 1,
            scan=lambda s, a=a, b=b: self._read(s, "transaction", a, b),
        ))
        return ops


# (name, Spark builder over the registered views, DuckDB oracle SQL over the
# golden tables).  ``None`` as the builder means the same SQL text runs on
# both engines.
def _sql_corpus(rng: random.Random, n: int, chain_path: str):
    from pyspark.sql import functions as F

    from presto_ethereum_spark.plans import golden

    lo = rng.randint(1, n // 2)
    hi = lo + 5000
    c_lo = rng.randint(1, n - 2001)
    c_hi = c_lo + 1999
    e_lo = rng.randint(1, n - 4001)
    e_hi = e_lo + 3999
    return [
        ("readme_block_deltas", None, f"""
            SELECT b.bn, (b.block_timestamp - a.block_timestamp) AS delta
            FROM (SELECT block_number AS bn, block_timestamp FROM block
                  WHERE block_number >= {lo} AND block_number <= {hi}) AS a
            JOIN (SELECT block_number - 1 AS bn, block_timestamp FROM block
                  WHERE block_number >= {lo + 1} AND block_number <= {hi + 1}) AS b
            ON a.bn = b.bn"""),
        ("readme_avg_block_time",
         lambda s: golden.avg_block_time_by_chunk(s.table("block"), c_lo, c_hi, 200),
         f"""
            WITH X AS (
              SELECT b.bn, (b.block_timestamp - a.block_timestamp) AS delta
              FROM (SELECT block_number AS bn, block_timestamp FROM block
                    WHERE block_number >= {c_lo} AND block_number <= {c_hi}) AS a
              JOIN (SELECT block_number - 1 AS bn, block_timestamp FROM block
                    WHERE block_number >= {c_lo + 1} AND block_number <= {c_hi + 1}) AS b
              ON a.bn = b.bn)
            SELECT min(bn) AS chunkstart, avg(delta) AS avg_delta
            FROM (SELECT ntile({(c_hi - c_lo + 1) // 200}) OVER (ORDER BY bn) AS chunk, *
                  FROM X) AS T
            GROUP BY chunk"""),
        ("readme_top_miners",
         lambda s: golden.top_miners(s.table("block"), n, 15),
         f"""
            SELECT block_miner, count(*) AS num,
                   CAST(count(*) AS DOUBLE) / {float(n)} AS percent
            FROM block WHERE block_number <= {n}
            GROUP BY block_miner ORDER BY num DESC, block_miner LIMIT 15"""),
        ("readme_erc20_movement",
         lambda s: golden.erc20_token_movement(s.table("erc20"), e_lo, e_hi).select(
             "erc20_token", F.format_string("%.6e", "total_value").alias("total_value")),
         f"""
            SELECT erc20_token, printf('%.6e', sum(erc20_value)) AS total_value
            FROM erc20 WHERE erc20_blocknumber BETWEEN {e_lo} AND {e_hi}
            GROUP BY erc20_token"""),
        ("fee_by_bucket", None, """
            SELECT CAST(floor(tx_blocknumber / 1000) AS BIGINT) AS bucket,
                   count(*) AS n_tx, CAST(sum(tx_gas) AS BIGINT) AS gas,
                   CAST(sum(CAST(CAST(tx_gas AS BIGINT) * CAST(tx_gasprice AS BIGINT)
                                 AS DECIMAL(38,0))) AS STRING) AS fee_wei
            FROM transaction GROUP BY 1"""),
        ("miner_gas", None, """
            SELECT block_miner, count(*) AS n_blocks,
                   CAST(sum(block_gasused) AS BIGINT) AS gas_used,
                   max(block_size) AS max_size
            FROM block GROUP BY block_miner"""),
        ("top_senders", None, """
            SELECT tx_from, count(*) AS n_tx, CAST(sum(tx_gas) AS BIGINT) AS gas,
                   max(tx_value) AS max_value
            FROM transaction GROUP BY tx_from"""),
        ("hourly_volume", None, """
            SELECT CAST(floor(b.block_timestamp / 3600) AS BIGINT) AS hour,
                   count(*) AS n_tx, CAST(sum(t.tx_gas) AS BIGINT) AS gas,
                   max(t.tx_value) AS max_value
            FROM transaction AS t JOIN block AS b ON t.tx_blocknumber = b.block_number
            GROUP BY 1"""),
        ("token_flows", None, """
            SELECT erc20_token, erc20_from, erc20_to, count(*) AS n_transfers
            FROM erc20 WHERE erc20_token NOT LIKE 'ERC20(%'
            GROUP BY erc20_token, erc20_from, erc20_to"""),
        ("exact_balances", _exact_balances, f"""
            WITH lg AS (
              SELECT unnest(t.logs) AS l
              FROM (SELECT unnest(transactions) AS t
                    FROM read_parquet('{chain_path}'))),
            tr AS (
              SELECT l.address AS token_address,
                     concat('0x', substr(l.topics[2], length(l.topics[2]) - 39, 40)) AS f,
                     concat('0x', substr(l.topics[3], length(l.topics[3]) - 39, 40)) AS t,
                     CAST(CAST(concat('0x', substr(l.data, 37, 15)) AS BIGINT) AS HUGEINT)
                       * 1152921504606846976
                     + CAST(CAST(concat('0x', substr(l.data, 52, 15)) AS BIGINT)
                            AS HUGEINT) AS wei
              FROM lg
              WHERE lower(l.topics[1]) =
                    '0xddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef'
                AND len(l.topics) >= 3 AND length(l.data) = 66
                AND substr(l.data, 3, 34) = repeat('0', 34)),
            d AS (
              SELECT token_address, t AS holder, wei AS delta, 1 AS is_in FROM tr
              UNION ALL SELECT token_address, f, -wei, 0 FROM tr)
            SELECT token_address, holder, CAST(sum(is_in) AS BIGINT) AS n_in,
                   CAST(sum(1 - is_in) AS BIGINT) AS n_out,
                   CAST(CAST(sum(delta) AS DECIMAL(38,0)) AS VARCHAR) AS balance_wei
            FROM d GROUP BY token_address, holder"""),
    ]


def _exact_balances(spark):
    from pyspark.sql import functions as F

    from presto_ethereum_spark.sources.decode import erc20_transfer_deltas

    return erc20_transfer_deltas(spark.table("chain_blocks")).groupBy(
        "token_address", "holder").agg(
        F.sum("is_in").cast("long").alias("n_in"),
        F.sum(1 - F.col("is_in")).cast("long").alias("n_out"),
        F.sum("delta").cast("decimal(38,0)").cast("string").alias("balance_wei"))


class ChainSql(Workload):
    """Closed loop, one client, warm: the README / ``plans.golden`` query
    corpus and heavier fee, flow and exact-decimal analyses over
    ``EthereumFixtureSource`` views of an 8,000-block chain.  No RPC."""

    name = "chain_sql"
    chain_blocks = SQL_BLOCKS

    def __init__(self, seed, work, workers):
        import duckdb

        super().__init__(seed, work, workers)
        self.chain_path = str(work / "chain_blocks.parquet")
        chaingen.write_parquet(self.chain, work, chaingen.goldens(self.chain))
        con = duckdb.connect()
        for t in ("block", "transaction", "erc20"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{work / t}.parquet')")
        self.ops = []
        for name, build, oracle in _sql_corpus(self.rng, self.chain_blocks, self.chain_path):
            if build is None:
                build = (lambda sql: lambda s: s.sql(sql))(oracle)
            self.ops.append(Op(name, build, norm_rows(con.sql(oracle).fetchall())))
        con.close()
        self.warm = len(self.ops)  # the whole corpus: warm JIT for every query shape
        self.chain = None  # the parquet files hold it from here on

    def register(self, spark):
        from presto_ethereum_spark.sources.fixture import EthereumFixtureSource

        src = EthereumFixtureSource(spark, self.chain_path)
        src.register_views()
        src.chain.createOrReplaceTempView("chain_blocks")

    def probe(self, spark):
        spark.table("block").schema


class LedgerTail(Workload):
    """``run_balance_upsert`` over an ``ethereum-stream`` raw-log source on
    the stand-in node, with a durable state root: one backfill drain, then
    an open-loop tail where the node appends blocks on a fixed schedule and
    the consumer drains as soon as it sees the head move."""

    name = "ledger_tail"
    chain_blocks = LEDGER_BLOCKS

    def __init__(self, seed, work, workers):
        super().__init__(seed, work, workers)
        chaingen.write_parquet(self.chain, work)
        self.node = NodeProcess(work / "chain_blocks.parquet", seed, head=LEDGER_WARM)
        self.state_root = work / "ledger_state"
        self.t0: float | None = None

    def register(self, spark):
        from presto_ethereum_spark.streaming.chain import EthereumStreamDataSource

        _register_rpc_sources(spark)
        spark.dataSource.register(EthereumStreamDataSource)

    def probe(self, spark):
        (spark.readStream.format("ethereum-stream").option("url", self.node.url)
         .option("table", "log").load().schema)

    def drain(self, spark):
        """One ``run_balance_upsert`` call; returns the ledger DataFrame."""
        from presto_ethereum_spark.sources.decode import erc20_transfer_deltas_from_logs
        from presto_ethereum_spark.streaming.chain import run_balance_upsert

        stream = (spark.readStream.format("ethereum-stream")
                  .option("url", self.node.url).option("table", "log")
                  .option("start_block", 1)
                  .option("max_blocks_per_batch", self.chain_blocks).load())
        return run_balance_upsert(
            spark, str(self.work), source=stream,
            deltas_fn=erc20_transfer_deltas_from_logs,
            state_root=str(self.state_root))

    def set_head(self, n: int) -> None:
        self.node.rpc("bench_setHead", n)

    def head(self) -> int:
        return self.node.stats()["head"]

    def start_tail(self, now: float) -> None:
        """Start the append schedule with steps at now + (k + 1/2) *
        TAIL_INTERVAL_S, so that a window of whole intervals from now
        always sees the same number of steps (none lands on its end)."""
        t0 = self.t0 = now - TAIL_INTERVAL_S / 2
        self.node.rpc("bench_schedule", t0, TAIL_INTERVAL_S, TAIL_STEP, self.chain_blocks)

    def appeared_at(self, block: int) -> float:
        k = math.ceil((block - LEDGER_BACKFILL) / TAIL_STEP)
        return self.t0 + k * TAIL_INTERVAL_S

    def expected(self, max_block: int) -> list:
        ledger = chaingen.transfer_ledger(self.chain, max_block)
        return norm_rows([(*k, *v) for k, v in ledger.items()])


WORKLOADS = {w.name: w for w in (NodeScan, ChainSql, LedgerTail)}
