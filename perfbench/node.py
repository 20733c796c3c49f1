"""Stand-in Ethereum JSON-RPC node for the benchmark.

Serves a seed-generated chain (a ``chain_blocks`` parquet) in Ethereum wire
format over HTTP: ``eth_blockNumber``, ``eth_getBlockByNumber`` (header or
full transactions), ``eth_getBlockByHash``, ``eth_getTransactionReceipt``,
``eth_getLogs`` (topic0 and address filters), ``eth_getBalance``,
``eth_getTransactionCount``, ``eth_getCode`` and ``eth_gasPrice``, singly or
as JSON-RPC batches.  Every block body, receipt and log is JSON-encoded once
at start, so a request costs a dictionary lookup and a string join.

Topic and address filters compare case-insensitively, the way the
package's parquet transport stands in for a node, so the fixture's
case-varied spellings are served identically on both paths.

The head starts at ``--head``; it can be moved by a control call
(``bench_setHead``) or follow a fixed schedule (``bench_schedule``: ``step`` more blocks every ``interval``
seconds from wall time ``t0``, up to ``until``), which is how the
``ledger_tail`` workload makes blocks appear regardless of the reader's
progress.  ``bench_stats`` returns the request counters: POSTs, calls per
method, bytes written, the handlers' busy time, the distinct blocks served
and the distinct accounts queried.  Control calls are not counted.

Requests are handled by a fixed pool of at most ``os.cpu_count()`` threads.

Run as ``python3 node.py --chain chain_blocks.parquet --seed N --head H``;
it prints ``PORT <n>`` on its first stdout line and serves until killed.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import threading
import time
import urllib.request
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, HTTPServer

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from chaingen import account_state  # noqa: E402

GAS_PRICE = 20 * 10**9


def _q(v) -> str:
    return hex(int(v))


def _wire_tx(t: dict, block: dict) -> dict:
    return {
        "hash": t["hash"],
        "nonce": _q(t["nonce"]),
        "blockHash": block["hash"],
        "blockNumber": _q(block["number"]),
        "transactionIndex": _q(t["transactionindex"]),
        "from": t["from"],
        "to": t["to"],
        "value": _q(t["value"]),
        "gas": _q(t["gas"]),
        "gasPrice": _q(t["gasprice"]),
        "input": t["input"],
    }


def _wire_block(b: dict, full: bool) -> dict:
    return {
        "number": _q(b["number"]),
        "hash": b["hash"],
        "parentHash": b["parenthash"],
        "nonce": b["nonce"],
        "sha3Uncles": b["sha3uncles"],
        "logsBloom": b["logsbloom"],
        "transactionsRoot": b["transactionsroot"],
        "stateRoot": b["stateroot"],
        "miner": b["miner"],
        "difficulty": _q(b["difficulty"]),
        "totalDifficulty": _q(b["totaldifficulty"]),
        "size": _q(b["size"]),
        "extraData": b["extradata"],
        "gasLimit": _q(b["gaslimit"]),
        "gasUsed": _q(b["gasused"]),
        "timestamp": _q(b["timestamp"]),
        "uncles": b["uncles"],
        "transactions": [
            _wire_tx(t, b) if full else t["hash"] for t in b["transactions"]
        ],
    }


def _wire_log(lg: dict, t: dict, b: dict, index: int) -> dict:
    return {
        "address": lg["address"],
        "topics": lg["topics"],
        "data": lg["data"],
        "blockNumber": _q(b["number"]),
        "blockHash": b["hash"],
        "transactionHash": t["hash"],
        "transactionIndex": _q(t["transactionindex"]),
        "logIndex": _q(index),
        "removed": False,
    }


class ChainIndex:
    """Pre-encoded responses for every block, receipt and log."""

    def __init__(self, chain: list[dict], seed: int):
        self.seed = seed
        self.full: dict[int, str] = {}
        self.header: dict[int, str] = {}
        self.by_hash: dict[str, int] = {}
        self.receipts: dict[str, str] = {}
        # per block: (address lower, topic0 lower, encoded log)
        self.logs: dict[int, list[tuple[str, str, str]]] = {}
        for b in chain:
            n = b["number"]
            self.full[n] = json.dumps(_wire_block(b, True))
            self.header[n] = json.dumps(_wire_block(b, False))
            self.by_hash[b["hash"]] = n
            block_logs = []
            for t in b["transactions"]:
                wire = []
                for lg in t["logs"] or []:
                    w = _wire_log(lg, t, b, len(block_logs))
                    wire.append(w)
                    topic0 = lg["topics"][0].lower() if lg["topics"] else ""
                    block_logs.append((lg["address"].lower(), topic0, json.dumps(w)))
                self.receipts[t["hash"]] = json.dumps({
                    "transactionHash": t["hash"],
                    "transactionIndex": _q(t["transactionindex"]),
                    "blockHash": b["hash"],
                    "blockNumber": _q(n),
                    "from": t["from"],
                    "to": t["to"],
                    "status": "0x1",
                    "logs": wire,
                })
            self.logs[n] = block_logs
        self.last = max(self.full) if self.full else 0


class Node:
    """Request dispatch, head schedule and counters (shared by the handler
    threads; every counter update holds ``lock``)."""

    def __init__(self, index: ChainIndex, head: int):
        self.index = index
        self.lock = threading.Lock()
        self.fixed_head = min(head, index.last)
        self.schedule: tuple[float, float, int, int] | None = None
        self.reset()

    def reset(self) -> None:
        self.posts = 0
        self.calls: dict[str, int] = {}
        self.bytes_out = 0
        self.busy_s = 0.0
        self.blocks: set[int] = set()
        self.addresses: set[str] = set()
        self.max_logs_to = 0

    def head(self) -> int:
        if self.schedule is None:
            return self.fixed_head
        t0, interval, step, until = self.schedule
        k = int((time.time() - t0) // interval) if time.time() >= t0 else 0
        return min(until, self.fixed_head + k * step, self.index.last)

    def stats(self, reset: bool) -> dict:
        with self.lock:
            out = {
                "posts": self.posts,
                "calls": dict(self.calls),
                "bytes_out": self.bytes_out,
                "busy_s": self.busy_s,
                "blocks_served": len(self.blocks),
                "addresses": len(self.addresses),
                "max_logs_to": self.max_logs_to,
                "head": self.head(),
            }
            if reset:
                self.reset()
        return out

    def control(self, method: str, params: list):
        if method == "bench_stats":
            return self.stats(bool(params and params[0]))
        if method == "bench_setHead":
            with self.lock:
                self.schedule = None
                self.fixed_head = min(int(params[0]), self.index.last)
            return self.fixed_head
        if method == "bench_schedule":
            t0, interval, step, until = params
            with self.lock:
                self.fixed_head = self.head()
                self.schedule = (float(t0), float(interval), int(step), int(until))
            return True
        raise KeyError(method)

    def _block_tag(self, tag) -> int:
        if tag in (None, "latest", "pending", "safe", "finalized"):
            return self.head()
        if tag == "earliest":
            return 1
        return int(tag, 16)

    def call(self, method: str, params: list, seen: dict) -> str:
        """The encoded ``result`` of one call; blocks, accounts and the
        highest ``eth_getLogs`` block it touched are added to ``seen``."""
        blocks, addrs = seen["blocks"], seen["addrs"]
        ix = self.index
        head = self.head()
        if method == "eth_blockNumber":
            return json.dumps(hex(head))
        if method == "eth_getBlockByNumber":
            n = self._block_tag(params[0])
            if n > head or n not in ix.full:
                return "null"
            if params[1]:
                blocks.add(n)
                return ix.full[n]
            return ix.header[n]
        if method == "eth_getBlockByHash":
            n = ix.by_hash.get(params[0])
            if n is None or n > head:
                return "null"
            if params[1]:
                blocks.add(n)
                return ix.full[n]
            return ix.header[n]
        if method == "eth_getTransactionReceipt":
            return ix.receipts.get(params[0], "null")
        if method == "eth_getLogs":
            f = params[0]
            lo = self._block_tag(f.get("fromBlock", "earliest"))
            hi = min(self._block_tag(f.get("toBlock", "latest")), head)
            topics = f.get("topics") or []
            topic0 = topics[0].lower() if topics and topics[0] else None
            address = f.get("address")
            if isinstance(address, str):
                address = [address]
            addr_set = {a.lower() for a in address} if address else None
            out = []
            for n in range(max(lo, 1), hi + 1):
                blocks.add(n)
                for a, t0, enc in ix.logs.get(n, ()):
                    if (topic0 is None or t0 == topic0) and (
                        addr_set is None or a in addr_set
                    ):
                        out.append(enc)
            seen["logs_to"] = max(seen["logs_to"], hi)
            return "[" + ",".join(out) + "]"
        if method in ("eth_getBalance", "eth_getTransactionCount", "eth_getCode"):
            addr = params[0].lower()
            addrs.add(addr)
            balance, nonce, code = account_state(ix.seed, addr)
            if method == "eth_getBalance":
                return json.dumps(hex(balance))
            if method == "eth_getTransactionCount":
                return json.dumps(hex(nonce))
            return json.dumps(code)
        if method == "eth_gasPrice":
            return json.dumps(hex(GAS_PRICE))
        raise KeyError(method)

    def handle(self, body: bytes) -> bytes:
        req = json.loads(body)
        batch = isinstance(req, list)
        reqs = req if batch else [req]
        if reqs and str(reqs[0].get("method", "")).startswith("bench_"):
            r = reqs[0]
            return json.dumps(
                {"jsonrpc": "2.0", "id": r.get("id"),
                 "result": self.control(r["method"], r.get("params") or [])}
            ).encode()
        t0 = time.perf_counter()
        seen = {"blocks": set(), "addrs": set(), "logs_to": 0}
        parts, counts = [], {}
        for r in reqs:
            m = r.get("method")
            counts[m] = counts.get(m, 0) + 1
            rid = json.dumps(r.get("id"))
            try:
                res = self.call(m, r.get("params") or [], seen)
                parts.append(f'{{"jsonrpc":"2.0","id":{rid},"result":{res}}}')
            except KeyError:
                parts.append(
                    f'{{"jsonrpc":"2.0","id":{rid},"error":'
                    f'{{"code":-32601,"message":"method not found"}}}}'
                )
        out = ("[" + ",".join(parts) + "]" if batch else parts[0]).encode()
        busy = time.perf_counter() - t0
        with self.lock:
            self.posts += 1
            for m, c in counts.items():
                self.calls[m] = self.calls.get(m, 0) + c
            self.bytes_out += len(out)
            self.busy_s += busy
            self.blocks.update(seen["blocks"])
            self.addresses.update(seen["addrs"])
            self.max_logs_to = max(self.max_logs_to, seen["logs_to"])
        return out


class _Handler(BaseHTTPRequestHandler):
    node: Node

    def do_POST(self):  # noqa: N802 (http.server API)
        body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
        try:
            out = self.node.handle(body)
            code = 200
        except (ValueError, KeyError, TypeError, IndexError) as e:
            out = json.dumps({"jsonrpc": "2.0", "id": None, "error": {
                "code": -32600, "message": f"{type(e).__name__}: {e}"}}).encode()
            code = 400
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(out)))
        self.end_headers()
        self.wfile.write(out)

    def log_message(self, *args):
        pass


class PooledHTTPServer(HTTPServer):
    """HTTPServer whose requests run on a fixed thread pool."""

    request_queue_size = 128

    def __init__(self, addr, handler, workers: int):
        super().__init__(addr, handler)
        self.pool = ThreadPoolExecutor(max_workers=workers)

    def process_request(self, request, client_address):
        self.pool.submit(self._work, request, client_address)

    def _work(self, request, client_address):
        try:
            self.finish_request(request, client_address)
        except Exception:
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)


def main() -> None:
    import pyarrow.parquet as pq

    ap = argparse.ArgumentParser()
    ap.add_argument("--chain", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--head", type=int, default=None)
    args = ap.parse_args()
    chain = pq.read_table(args.chain).to_pylist()
    index = ChainIndex(chain, args.seed)
    node = Node(index, index.last if args.head is None else args.head)
    _Handler.node = node
    server = PooledHTTPServer(("127.0.0.1", 0), _Handler, os.cpu_count() or 1)
    print(f"PORT {server.server_address[1]}", flush=True)
    server.serve_forever()


class NodeProcess:
    """Runs :func:`main` in a child process; ``close`` stops and reaps it."""

    def __init__(self, chain_path: str, seed: int, head: int | None = None):
        cmd = [sys.executable, os.path.abspath(__file__),
               "--chain", str(chain_path), "--seed", str(seed)]
        if head is not None:
            cmd += ["--head", str(head)]
        self.proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
        line = self.proc.stdout.readline()
        if not line.startswith("PORT "):
            self.close()
            raise RuntimeError(f"stand-in node failed to start: {line!r}")
        self.url = f"http://127.0.0.1:{int(line.split()[1])}/"

    def rpc(self, method: str, *params):
        body = json.dumps({"jsonrpc": "2.0", "id": 0, "method": method,
                           "params": list(params)}).encode()
        req = urllib.request.Request(
            self.url, data=body, headers={"Content-Type": "application/json"})
        with urllib.request.urlopen(req, timeout=30) as resp:
            out = json.loads(resp.read())
        if "error" in out:
            raise RuntimeError(out["error"])
        return out["result"]

    def stats(self, reset: bool = False) -> dict:
        return self.rpc("bench_stats", reset)

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.terminate()
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.proc.stdout.close()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()


if __name__ == "__main__":
    main()
