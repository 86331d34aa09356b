"""Seeded input generators. The program under test only ever sees the
files these write: binlog segments."""

from __future__ import annotations

import os
import random

#: column layout of the replicated table ``shop.orders``; DLQ rows are
#: written through a 3-column TABLE_MAP of the same table, so their
#: arity mismatches the 4 projected names
COLUMNS = ("id", "qty", "amount", "note")
SID = "ab" * 16

#: row-change mix shared by both CDC workloads
ACTION_MIX = (("insert", 0.6), ("update", 0.25), ("delete", 0.15))
EXCLUDED_SHARE = 0.05      # rows in database ``audit`` (filtered out)
DLQ_SHARE = 0.01           # arity-mismatched rows (dead-letter topic)


def _encoder():
    from tests.fixtures.binlog_wire_encoder import (LONG, VARCHAR,
                                                    BinlogWriter)

    good = [(LONG, 0), (LONG, 0), (VARCHAR, 32), (VARCHAR, 64)]
    bad = [(LONG, 0), (LONG, 0), (VARCHAR, 32)]
    return BinlogWriter, good, bad


class ChangeGen:
    """Deterministic row-change transactions. Every change carries a
    unique ``note`` so the output check can match it exactly once.

    ``expected`` collects (action, before, after) tuples of published
    ``shop.orders`` changes, ``dlq`` the (action, row image) of the
    arity-mismatched ones and ``excluded`` counts the filtered rows."""

    def __init__(self, seed: int, rows_per_txn: int,
                 rows_per_stmt: int) -> None:
        self.rng = random.Random(seed)
        self.rows_per_txn, self.rows_per_stmt = rows_per_txn, rows_per_stmt
        self.writer_cls, self.good, self.bad = _encoder()
        self.seq = 0
        self.gno = 0
        self.expected: list[tuple] = []
        self.dlq: list[tuple] = []
        self.excluded = 0

    def _image(self, seq: int, tag: str) -> list:
        r = self.rng
        return [seq, r.randrange(1, 1000),
                f"{r.randrange(0, 100000)}.{r.randrange(0, 100):02d}",
                f"n{seq}{tag}"]

    def _pick_action(self) -> str:
        x, acc = self.rng.random(), 0.0
        for action, share in ACTION_MIX:
            acc += share
            if x < acc:
                return action
        return ACTION_MIX[-1][0]

    def txn(self, w) -> int:
        """Append one transaction to writer ``w``: statements of
        ``rows_per_stmt`` rows, each statement one action on one
        table. Returns how many of its rows are published (good and
        dead-lettered)."""
        self.gno += 1
        w.gtid(SID, self.gno)
        w.query("shop", "BEGIN")
        published = 0
        for _ in range(self.rows_per_txn // self.rows_per_stmt):
            kind, action = self.rng.random(), self._pick_action()
            seqs = range(self.seq + 1, self.seq + 1 + self.rows_per_stmt)
            self.seq += self.rows_per_stmt
            if kind < EXCLUDED_SHARE:
                w.table_map(9, "audit", "log", self.good)
                w.write_rows(9, self.good,
                             [self._image(s, "") for s in seqs])
                self.excluded += len(seqs)
                continue
            published += len(seqs)
            if kind < EXCLUDED_SHARE + DLQ_SHARE:
                imgs = [self._image(s, "")[:3] for s in seqs]
                w.table_map(8, "shop", "orders", self.bad)
                w.write_rows(8, self.bad, imgs)
                self.dlq.extend(("insert", tuple(str(v) for v in i))
                                for i in imgs)
                continue
            w.table_map(7, "shop", "orders", self.good)
            if action == "insert":
                pairs = [(None, self._image(s, "")) for s in seqs]
                w.write_rows(7, self.good, [a for _, a in pairs])
            elif action == "delete":
                pairs = [(self._image(s, ""), None) for s in seqs]
                w.delete_rows(7, self.good, [b for b, _ in pairs])
            else:
                pairs = [(self._image(s, "b"), self._image(s, ""))
                         for s in seqs]
                w.update_rows(7, self.good, pairs)
            self.expected.extend(
                (action, _strs(b), _strs(a)) for b, a in pairs)
        w.xid(self.gno)
        return published

    def new_writer(self, seg: int):
        w = self.writer_cls(base_ts=1_710_000_000 + seg)
        w.format_description()
        return w


def _strs(image) -> tuple | None:
    return None if image is None else tuple(str(v) for v in image)


def binlog_backlog(out_dir: str, seed: int, segments: int,
                   txns_per_segment: int, rows_per_txn: int,
                   rows_per_stmt: int) -> ChangeGen:
    """Write ``segments`` immutable binlog segments; returns the
    generator holding the expected outputs."""
    os.makedirs(out_dir, exist_ok=True)
    gen = ChangeGen(seed, rows_per_txn, rows_per_stmt)
    for seg in range(1, segments + 1):
        w = gen.new_writer(seg)
        for _ in range(txns_per_segment):
            gen.txn(w)
        with open(os.path.join(out_dir, f"binlog.{seg:06d}.bin"),
                  "wb") as f:
            f.write(w.bytes())
    return gen
