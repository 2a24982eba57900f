"""Seeded chain segment: raw landing docs plus the Python model that
predicts every read the benchmark makes.

The segment is contiguous and straddles a ``BLOCK_BUCKET_SIZE`` boundary,
so number and time windows exercise bucket pruning without a 100k-block
store. Everything derives from ``random.Random(seed)``: the same seed
gives the same docs, byte for byte.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from dataclasses import dataclass, field

BUCKET = 100_000  # schemas.BLOCK_BUCKET_SIZE; restated so tests need no Spark
N_ACCOUNTS = 24
N_CONTRACTS = 8
N_SIGS = 4
BASE_TIME = 1_650_000_000


def _hex(seed: int, *parts: object, n: int = 64) -> str:
    """*n* hex digits derived from the seed and *parts*, 0x-prefixed."""
    return "0x" + hashlib.sha256("|".join(map(str, (seed, *parts))).encode()).hexdigest()[:n]


@dataclass
class Block:
    number: int
    hash: str
    time: int
    parent: str
    miner: str
    txs: list = field(default_factory=list)


@dataclass
class Tx:
    hash: str
    frm: str
    to: str  # "" for a contract creation
    contract: str  # "" unless a contract creation
    nonce: int
    block: Block
    logs: list = field(default_factory=list)


@dataclass
class Log:
    index: int
    origin: str
    topics: list
    data: str
    tx: Tx


class Chain:
    """*n_blocks* blocks from ``start``; ``start`` sits about half the
    segment below a bucket boundary (seed-dependent offset)."""

    def __init__(self, seed: int, n_blocks: int):
        rng = random.Random(seed)
        self.seed = seed
        self.start = BUCKET - n_blocks // 2 + rng.randrange(-n_blocks // 8, n_blocks // 8 + 1)
        self.accounts = [_hex(seed, "acct", i, n=40) for i in range(N_ACCOUNTS)]
        self.contracts = [_hex(seed, "contract", i, n=40) for i in range(N_CONTRACTS)]
        self.sigs = [_hex(seed, "sig", i) for i in range(N_SIGS)]
        self.blocks: list[Block] = []
        nonces = {a: 0 for a in self.accounts}
        t = BASE_TIME + rng.randrange(1000)
        parent = _hex(seed, "block", self.start - 1)
        for n in range(self.start, self.start + n_blocks):
            t += rng.randint(10, 14)
            b = Block(n, _hex(seed, "block", n), t, parent, self.accounts[rng.randrange(4)])
            parent = b.hash
            log_index = 0
            for i in range(rng.randint(1, 4)):
                frm = self.accounts[rng.randrange(N_ACCOUNTS)]
                creation = rng.random() < 0.05
                tx = Tx(
                    _hex(seed, "tx", n, i),
                    frm,
                    "" if creation else self.accounts[rng.randrange(N_ACCOUNTS)],
                    _hex(seed, "created", n, i, n=40) if creation else "",
                    nonces[frm],
                    b,
                )
                nonces[frm] += 1
                for _ in range(rng.randint(0, 2)):
                    topics = [self.sigs[rng.randrange(N_SIGS)]]
                    topics += ["0x" + "0" * 24 + self.accounts[rng.randrange(N_ACCOUNTS)][2:]
                               for _ in range(rng.randint(0, 2))]
                    data = "0x" + ("00" * 32 if rng.random() < 0.3 else f"{rng.getrandbits(256):064x}")
                    tx.logs.append(Log(log_index, self.contracts[rng.randrange(N_CONTRACTS)], topics, data, tx))
                    log_index += 1
                b.txs.append(tx)
            self.blocks.append(b)
        self.by_number = {b.number: b for b in self.blocks}
        self.txs = [tx for b in self.blocks for tx in b.txs]
        self.logs = [lg for tx in self.txs for lg in tx.logs]

    @property
    def end(self) -> int:
        return self.start + len(self.blocks) - 1

    # -- landing docs ------------------------------------------------------

    @staticmethod
    def raw_doc(b: Block) -> dict:
        """``normalize.RAW_BLOCK_SCHEMA`` shape for one block."""
        return {
            "hash": b.hash,
            "number": b.number,
            "timestamp": b.time,
            "parentHash": b.parent,
            "difficulty": "58750003716598352816469",
            "gasUsed": 12_345_678,
            "gasLimit": 30_000_000,
            "nonce": b.number * 7919,
            "miner": b.miner,
            "size": 54321.0,
            "stateRoot": "0x" + "ab" * 32,
            "sha3Uncles": "0x" + "cd" * 32,
            "transactionsRoot": "0x" + "ef" * 32,
            "receiptsRoot": "0x" + "01" * 32,
            "extraData": "0x646574686572",
            "transactions": [
                {
                    "hash": tx.hash,
                    "from": tx.frm,
                    "to": tx.to or None,
                    "contractAddress": tx.contract or None,
                    "value": "1000000000000000000",
                    "input": "0xa9059cbb" + "00" * 64,
                    "gas": 21000,
                    "gasPrice": "25000000000",
                    "nonce": tx.nonce,
                    "status": 1,
                    "logs": [
                        {"index": lg.index, "address": lg.origin, "topics": lg.topics, "data": lg.data}
                        for lg in tx.logs
                    ],
                }
                for tx in b.txs
            ],
        }

    def write_landing(self, landing_dir: str, n_files: int) -> None:
        """Newline-JSON docs for every block across *n_files* files."""
        os.makedirs(landing_dir, exist_ok=True)
        per = -(-len(self.blocks) // n_files)
        for i in range(0, len(self.blocks), per):
            with open(os.path.join(landing_dir, f"backfill{i:08d}.json"), "w") as f:
                for b in self.blocks[i:i + per]:
                    f.write(json.dumps(self.raw_doc(b)) + "\n")
