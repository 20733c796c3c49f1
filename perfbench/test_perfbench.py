"""Tests of the benchmark's own parts: the seeded chain and the stand-in node.

    python3 -m pytest perfbench/test_perfbench.py -q

Run from the repository root.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))
sys.path.insert(0, str(BENCH.parent))

import chaingen  # noqa: E402
from node import NodeProcess  # noqa: E402

N_BLOCKS = 1500  # two generator segments, so the stitching is covered


def test_same_seed_same_chain_any_worker_count():
    one = chaingen.generate_chain(5, N_BLOCKS, workers=1)
    two = chaingen.generate_chain(5, N_BLOCKS, workers=2)
    assert chaingen.chain_hash(one) == chaingen.chain_hash(two)
    assert [b["number"] for b in one] == list(range(1, N_BLOCKS + 1))
    assert all(b["parenthash"] == a["hash"] for a, b in zip(one, one[1:]))
    assert all(b["timestamp"] > a["timestamp"] for a, b in zip(one, one[1:]))


def test_different_seed_different_chain():
    assert chaingen.chain_hash(chaingen.generate_chain(5, 300)) != chaingen.chain_hash(
        chaingen.generate_chain(6, 300))


@pytest.fixture(scope="module")
def served(tmp_path_factory):
    work = tmp_path_factory.mktemp("node")
    chain = chaingen.generate_chain(11, 400)
    chaingen.write_parquet(chain, work)
    with NodeProcess(work / "chain_blocks.parquet", 11) as node:
        yield chain, chaingen.goldens(chain), node


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(BENCH.parent), os.environ.get("PYTHONPATH")) if p)
    from presto_ethereum_spark import get_spark
    from presto_ethereum_spark.sources.rpc import EthereumDataSource

    s = get_spark(app_name="perfbench-test", master="local[2]", shuffle_partitions=2,
                  extra_conf={"spark.ui.enabled": "false"})
    s.dataSource.register(EthereumDataSource)
    yield s
    s.stop()


@pytest.mark.parametrize("table,mode", [
    ("block", None), ("transaction", None),
    ("erc20", "receipts"), ("erc20", "eth_getLogs"),
])
def test_rows_over_url_equal_goldens(served, spark, table, mode):
    _, gold, node = served
    reader = spark.read.format("ethereum").option("table", table).option("url", node.url)
    if mode:
        reader = reader.option("logs_mode", mode)
    df = reader.load()
    got = sorted(tuple(r) for r in df.collect())
    want = sorted(tuple(row[c] for c in df.columns) for row in gold[table])
    assert len(want) > 0
    assert [tuple(map(_hashable, r)) for r in got] == [
        tuple(map(_hashable, r)) for r in want]


def _hashable(v):
    return tuple(v) if isinstance(v, list) else v


def test_node_counts_repeat_exactly(served, spark):
    _, _, node = served
    counts = []
    for _ in range(2):
        node.stats(reset=True)
        (spark.read.format("ethereum").option("table", "erc20").option("url", node.url)
         .option("start_block", 50).option("end_block", 349).load().count())
        st = node.stats(reset=True)
        counts.append((st["posts"], st["calls"], st["bytes_out"], st["blocks_served"]))
    assert counts[0] == counts[1]
    assert counts[0][3] == 300


def test_account_state_is_served(served):
    chain, _, node = served
    addr = chain[0]["miner"]
    balance, nonce, code = chaingen.account_state(11, addr)
    assert int(node.rpc("eth_getBalance", addr, "latest"), 16) == balance
    assert int(node.rpc("eth_getTransactionCount", addr, "latest"), 16) == nonce
    assert node.rpc("eth_getCode", addr.upper().replace("0X", "0x"), "latest") == code


def test_ledger_oracle_counts_every_standard_transfer(served):
    chain = served[0]
    ledger = chaingen.transfer_ledger(chain, 400)
    n_in = sum(v[0] for v in ledger.values())
    assert n_in == sum(v[1] for v in ledger.values()) > 0
    assert sum(int(v[2]) for v in ledger.values()) == 0
