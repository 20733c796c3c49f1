"""Seeded bench-scale Ethereum chains built from the fixture generator.

The repo's fixture generator (``fixtures/generate_eth_fixture.py``) draws a
2,400-block chain from one module-level ``random.Random(42)``.  This module
reuses its functions unchanged and only re-binds its module state: the
miner/sender pools come from the workload seed, and the chain is generated
in fixed 1,000-block segments (each with its own seed-derived stream) that
run in parallel worker processes and are then stitched end to end.  The
segment length is a constant, so a chain depends only on ``(seed, n_blocks)``
and never on how many workers built it.

Goldens come from the generator's own golden functions, which decode with
the pure-Python row producer; the Spark-side decode and the JSON-RPC path are
what the benchmark checks against them.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import pickle
import random
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
GENERATOR = REPO / "fixtures" / "generate_eth_fixture.py"
SEGMENT_BLOCKS = 1000
GENESIS_TS = 1438269988


def load_generator():
    """Import the fixture generator as a module without running ``main``."""
    spec = importlib.util.spec_from_file_location("generate_eth_fixture", GENERATOR)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _seed_pools(g, seed: int) -> None:
    g.rng = random.Random(f"pools/{seed}")
    g.MINERS = [g.rand_hex(20) for _ in range(20)]
    g.SENDERS = [g.rand_hex(20) for _ in range(200)]
    g.sender_nonce = {s: 0 for s in g.SENDERS}


def _segment(args: tuple[int, int, int]) -> list[dict]:
    seed, index, n_blocks = args
    g = load_generator()
    _seed_pools(g, seed)
    g.rng = random.Random(f"segment/{seed}/{index}")
    g.N_BLOCKS = n_blocks
    return g.generate_chain()


def generate_chain(seed: int, n_blocks: int, workers: int = 1) -> list[dict]:
    """A ``n_blocks``-block chain numbered from 1, as nested block dicts
    (the ``chain_blocks`` shape the fixture source and the node serve)."""
    jobs = []
    for index, lo in enumerate(range(0, n_blocks, SEGMENT_BLOCKS)):
        jobs.append((seed, index, min(SEGMENT_BLOCKS, n_blocks - lo)))
    if workers > 1 and len(jobs) > 1:
        segments = _segments_in_children(jobs, workers)
    else:
        segments = [_segment(j) for j in jobs]
    chain: list[dict] = []
    for seg in segments:
        if chain:
            last = chain[-1]
            _shift(seg, last["number"], last["timestamp"] - GENESIS_TS,
                   last["totaldifficulty"], last["hash"])
        chain.extend(seg)
    return chain


def _segments_in_children(jobs: list[tuple[int, int, int]], workers: int) -> list[list[dict]]:
    """Each job in a child ``python3 chaingen.py SEED INDEX N`` process, at
    most ``workers`` at once.  Plain child processes, each waited for, so
    nothing outlives the call (a multiprocessing pool leaves its resource
    tracker running)."""
    segments: list[list[dict]] = []
    for lo in range(0, len(jobs), workers):
        procs = [subprocess.Popen([sys.executable, str(Path(__file__).resolve()),
                                   *map(str, job)], stdout=subprocess.PIPE)
                 for job in jobs[lo:lo + workers]]
        try:
            for proc in procs:
                out = proc.stdout.read()
                if proc.wait() != 0:
                    raise RuntimeError(f"chain segment worker exited with {proc.returncode}")
                segments.append(pickle.loads(out))
        finally:
            for proc in procs:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
                proc.stdout.close()
    return segments


def _shift(seg: list[dict], n_off: int, ts_off: int, td_off: int, parent: str) -> None:
    seg[0]["parenthash"] = parent
    for b in seg:
        b["number"] += n_off
        b["timestamp"] += ts_off
        b["totaldifficulty"] += td_off
        for t in b["transactions"]:
            t["blocknumber"] += n_off
            for lg in t["logs"]:
                lg["blocknumber"] += n_off


def chain_hash(chain: list[dict]) -> str:
    h = hashlib.sha256()
    for b in chain:
        h.update(json.dumps(b, sort_keys=True).encode())
    return h.hexdigest()


def goldens(chain: list[dict]) -> dict[str, list[dict]]:
    g = load_generator()
    return {
        "block": g.golden_block_rows(chain),
        "transaction": g.golden_transaction_rows(chain),
        "erc20": g.golden_erc20_rows(chain),
    }


def write_parquet(chain: list[dict], out_dir: Path, tables: dict | None = None) -> None:
    """``chain_blocks.parquet`` plus any golden tables given, with the
    generator's exact arrow schemas."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    g = load_generator()
    out_dir.mkdir(parents=True, exist_ok=True)
    schemas = {"chain_blocks": g.CHAIN_T, "block": g.BLOCK_T,
               "transaction": g.TXTBL_T, "erc20": g.ERC20_T}
    for name, rows in {"chain_blocks": chain, **(tables or {})}.items():
        pq.write_table(pa.Table.from_pylist(rows, schema=schemas[name]),
                       out_dir / f"{name}.parquet", compression="zstd",
                       row_group_size=20000 if name == "chain_blocks" else 100000)


def account_state(seed: int, address: str) -> tuple[int, int, str]:
    """The stand-in node's state for an account: (balance wei, nonce, code).
    A pure function of the seed and the lower-cased address, so the checker
    can recompute what the node served.  Balances stay below 2**40 so that
    double sums over a few thousand accounts are exact."""
    d = hashlib.sha256(f"{seed}:{address.lower()}".encode()).digest()
    balance = int.from_bytes(d[:5], "big")
    nonce = d[5]
    code = "0x6080604052" + d[6:10].hex() if d[10] % 4 == 0 else "0x"
    return balance, nonce, code


def transfer_ledger(chain: list[dict], max_block: int) -> dict[tuple, tuple]:
    """One-pass batch oracle for the exact-decimal balance ledger: standard
    3-topic Transfer logs with a 64-digit data word whose top 34 digits are
    zero, credited to ``to`` and debited from ``from`` per (token, holder).
    Returns {(token_address, holder): (n_in, n_out, balance_wei)}."""
    from presto_ethereum_spark.constants import TRANSFER_EVENT_TOPIC

    acc: dict[tuple, list] = {}
    for b in chain:
        if b["number"] > max_block:
            break
        for t in b["transactions"]:
            for lg in t["logs"]:
                topics, data = lg["topics"], lg["data"]
                if (len(topics) < 3 or topics[0].lower() != TRANSFER_EVENT_TOPIC
                        or len(data) != 66 or data[2:36] != "0" * 34):
                    continue
                wei = int(data[2:], 16)
                token = lg["address"]
                for holder, sign, is_in in ((topics[2], 1, 1), (topics[1], -1, 0)):
                    row = acc.setdefault((token, "0x" + holder[-40:]), [0, 0, 0])
                    row[0 if is_in else 1] += 1
                    row[2] += sign * wei
    return {k: (v[0], v[1], str(v[2])) for k, v in acc.items()}


if __name__ == "__main__":
    pickle.dump(_segment(tuple(int(a) for a in sys.argv[1:4])), sys.stdout.buffer,
                protocol=pickle.HIGHEST_PROTOCOL)
