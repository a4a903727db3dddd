"""Seeded load generator for consumption CSV drops.

Writes date-partitioned drop files the way the upstream exporter does
(``<root>/date=YYYY_MM_DD/consumption_YYYY_MM_DD_<wave>_<file>.csv``) and
keeps, beside them, the last-writer-wins state the ingest must end in.

What the drops contain, so every normalize branch is exercised:
- the ``date`` column in all four formats ``parse_date_multi`` accepts,
  mixed within a file;
- duplicate keys within a file (the later row wins);
- empty and non-numeric ``total_consumed_tokens`` (both normalize to 0);
- about 1% planted bad rows: an unparseable date, an empty ``client_id``,
  or a line with an extra field;
- once per generator, a header-only file and a ``notes.txt`` that the
  ``*.csv`` glob must skip.

Winners are unambiguous by construction: within one wave a key lives in
exactly one file, so a key repeats across files only in a later wave,
whose files are written after the earlier invocation returned.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from dataclasses import dataclass, field

HEADER = "date,client_id,client_name,service_name,total_consumed_tokens"
MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
SERVICES = ("chat", "embed", "rerank", "vision", "speech", "batch")
BAD_ROW_RATE = 0.01
# Share of a correction file's rows that carry keys new to their date.
NEW_KEY_SHARE = 0.2


def format_date(d: dt.date, style: int) -> str:
    """``d`` in one of the four accepted formats (d-MMM-yy, yyyy-MM-dd,
    yyyy_MM_dd, M/d/yyyy)."""
    if style == 0:
        return f"{d.day}-{MONTHS[d.month - 1]}-{d.year % 100:02d}"
    if style == 1:
        return d.isoformat()
    if style == 2:
        return d.strftime("%Y_%m_%d")
    return f"{d.month}/{d.day}/{d.year}"


@dataclass
class Wave:
    """What one landing added: its files, dates, rows, bytes and bad rows."""

    files: list[str] = field(default_factory=list)
    dates: set = field(default_factory=set)
    rows: int = 0
    bytes: int = 0
    bad_rows: int = 0


class DropGenerator:
    """Lands waves of consumption drops under ``root`` and tracks the
    expected table: ``expected[(date, client_id)] = (client_name,
    service_name, tokens)``."""

    def __init__(self, seed: int, root: str):
        self.rng = random.Random(seed)
        self.root = root
        self.expected: dict[tuple[dt.date, str], tuple[str, str, int]] = {}
        self.keys_by_date: dict[dt.date, list[str]] = {}
        self.bad_rows = 0
        self.n_waves = 0
        self._extras_written = False
        os.makedirs(root, exist_ok=True)

    def _tokens(self) -> tuple[str, int]:
        r = self.rng.random()
        if r < 0.02:
            return "", 0
        if r < 0.04:
            return self.rng.choice(("n/a", "abc", "-", "1e3x")), 0
        v = self.rng.randrange(0, 5_000_000)
        return str(v), v

    def _bad_line(self, d: dt.date, n: int) -> str:
        kind = self.rng.randrange(3)
        if kind == 0:
            return f"not-a-date-{n},BAD{n},client bad,{SERVICES[0]},1"
        if kind == 1:
            return f"{d.isoformat()},,client bad,{SERVICES[1]},2"
        return f"{d.isoformat()},BAD{n},client bad,{SERVICES[2]},3,extra"

    def _write(self, d: dt.date, name: str, lines: list[str], wave: Wave) -> None:
        ddir = os.path.join(self.root, f"date={d.strftime('%Y_%m_%d')}")
        os.makedirs(ddir, exist_ok=True)
        path = os.path.join(ddir, name)
        body = "\n".join([HEADER, *lines]) + "\n"
        with open(path, "w", encoding="ascii") as f:
            f.write(body)
        wave.files.append(path)
        wave.bytes += len(body)
        wave.rows += len(lines)

    def _file(self, d: dt.date, name: str, client_ids: list[str], wave: Wave) -> None:
        """One drop file for date ``d`` carrying ``client_ids`` in order
        (repeats allowed: the later row wins), with planted bad rows."""
        lines = []
        for cid in client_ids:
            if self.rng.random() < BAD_ROW_RATE:
                lines.append(self._bad_line(d, self.bad_rows))
                self.bad_rows += 1
                wave.bad_rows += 1
            raw_tokens, tokens = self._tokens()
            cname = f"client {cid[-4:]}"
            service = self.rng.choice(SERVICES)
            lines.append(
                f"{format_date(d, self.rng.randrange(4))},{cid},{cname},{service},{raw_tokens}"
            )
            self.expected[(d, cid)] = (cname, service, tokens)
        self._write(d, name, lines, wave)
        wave.dates.add(d)

    def _new_date_files(self, wave: Wave, d: dt.date, files: int, rows: int) -> None:
        """``files`` files for a date never landed before, with disjoint
        client pools, so no key spans two files."""
        tag = f"w{self.n_waves:04d}"
        keys = self.keys_by_date.setdefault(d, [])
        for k in range(files):
            pool = [f"C{tag}{k}{n:06d}" for n in range(max(1, rows * 9 // 10))]
            cids = [self.rng.choice(pool) for _ in range(rows)]
            keys.extend(dict.fromkeys(cids))
            self._file(d, f"consumption_{d.strftime('%Y_%m_%d')}_{tag}_f{k}.csv", cids, wave)

    def _extras(self, wave: Wave) -> None:
        """The header-only file and the non-matching notes.txt, once."""
        if self._extras_written:
            return
        self._extras_written = True
        d = min(wave.dates)
        self._write(d, f"consumption_{d.strftime('%Y_%m_%d')}_empty.csv", [], wave)
        with open(os.path.join(self.root, "notes.txt"), "w", encoding="ascii") as f:
            f.write("these rows must never be ingested\n2020-01-01,NOTE,x,y,1\n")

    def land_new_dates(self, dates: list[dt.date], files_per_date: int, rows_per_file: int) -> Wave:
        """A wave for dates never landed before."""
        wave = Wave()
        for d in dates:
            self._new_date_files(wave, d, files_per_date, rows_per_file)
        self._extras(wave)
        return self._finish(wave)

    def land_corrections(
        self, dates: list[dt.date], rows_per_file: int, backfill: dt.date | None = None
    ) -> Wave:
        """One correction file per already-landed date: mostly keys the
        table holds (updates), some new keys, and repeats within the file;
        plus, if given, one file for a late ``backfill`` date never landed
        before."""
        wave = Wave()
        tag = f"w{self.n_waves:04d}"
        for d in dates:
            keys = self.keys_by_date[d]
            fresh = [f"R{tag}{n:06d}" for n in range(max(1, int(rows_per_file * NEW_KEY_SHARE)))]
            cids = [
                self.rng.choice(fresh) if self.rng.random() < NEW_KEY_SHARE else self.rng.choice(keys)
                for _ in range(rows_per_file)
            ]
            keys.extend(c for c in dict.fromkeys(cids) if c.startswith("R"))
            self._file(d, f"consumption_{d.strftime('%Y_%m_%d')}_{tag}_fix.csv", cids, wave)
        if backfill is not None:
            self._new_date_files(wave, backfill, 1, rows_per_file)
        return self._finish(wave)

    def _finish(self, wave: Wave) -> Wave:
        self.n_waves += 1
        return wave

    def expected_rows(self) -> list[tuple]:
        """The expected target, as (date, client_id, client_name,
        service_name, total_consumed_tokens, is_active) rows."""
        return [(d, cid, n, s, t, True) for (d, cid), (n, s, t) in self.expected.items()]
