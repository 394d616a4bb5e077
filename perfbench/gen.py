"""Seeded input generator for the benchmark workloads.

Every input is a pure function of ``(seed, index)``: the same seed gives
byte-identical files, and each generator also returns the cells the
package must produce from them, so correctness is checked against the
generator rather than against the program itself.

Formats follow the package's readers (``sources.ingest``):

* MUPR: 11 ``\\x00``-separated fields per line, no header.
* MUCR: 6 fixed fields then ``number_of_counters`` triples; a share of
  lines claims more counters than it carries, which the parser drops.
* trigger CSV: ``File_Name,Lot,Lato_Start_WW,Lots_seq_key`` with header.

The MUPR files of a batch share a small pool of distinct bodies (the
unit/test/value lines).  A file's cells still differ from every other
file's, because the row key carries the file's own ``Lots_seq_key``
from the trigger CSV; sharing bodies keeps generation cheap enough for
batches of thousands of files and stores of a million cells.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np

DELIM = "\x00"

#: Lot pool shared by every batch; ``Lato_Start_WW`` rises with the lot
#: index, so "recent" lots are the high indices.
N_LOTS = 24
#: Zipf exponent of the lot popularity (files per lot).
LOT_SKEW = 1.2
#: Share of MUCR lines that claim two more counters than they carry.
MUCR_BAD_SHARE = 0.1
#: Keys per bulkGet, as in the reference's 1,000-get batches.
GET_KEYS = 1000
#: Share of a bulkGet's keys that name cells never written.
ABSENT_SHARE = 0.1
#: Popularity rank of the lot every prefix scan reads (1 = busiest).
#: The Zipf split is the same for every seed, so the scanned lot holds
#: the same number of files whatever the seed.
SCAN_LOT_RANK = 12

#: Row-key fields and value fields of a MUPR cell, in the order of
#: ``pipelines.MUPR_KEY_COLS`` and ``pipelines.MUPR_VALUE_COLS``.
MUPR_KEY_NAMES = ("Lot", "Lato_Start_WW", "Lots_seq_key", "Unit_Testing_Seq_Key")
MUPR_VALUE_NAMES = (
    "Measurement_Value",
    "Substructure_ID",
    "Test_Result_Order_Num",
    "Sub_Session_Seq_Num",
    "Active_Inactive_Core_Vector",
    "Pass_Fail_Core_Vector",
    "Mask_Vector",
    "Test_Result_Array_Seq_Num",
)

#: A cell's key and its sorted values.
Cell = tuple[tuple[str, str], tuple[str, ...]]


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def lot_name(i: int) -> str:
    return f"LT{i:05d}"


def lot_ww(i: int) -> int:
    return 202601 + i


@dataclass(frozen=True)
class Sizes:
    """Input size of one MUPR/MUCR trigger batch."""

    mupr_files: int
    #: distinct MUPR bodies the files share
    bodies: int
    units: int
    tests: int
    values: int
    mucr_files: int
    mucr_lines: int


@dataclass
class MuprFile:
    name: str
    lot: int
    #: ``Lot\x00WW\x00Lots_seq_key``: the row key up to the unit
    prefix: str
    body: int


@dataclass
class Batch:
    """One trigger batch: file bytes plus what the package must build."""

    index: int
    trigger_csv: bytes
    files: list[MuprFile]
    #: the MUPR bodies' bytes, and per body its cells as
    #: (unit, col_name) -> sorted values
    body_bytes: list[bytes]
    body_cells: list[dict[tuple[str, str], tuple[str, ...]]]
    mucr: dict[str, bytes]
    #: (row_key, qualifier) -> sorted values of the MUCR files
    mucr_cells: dict[tuple[str, str], tuple[str, ...]]
    mupr_rows: int
    mucr_lines: int
    mucr_valid_lines: int
    input_bytes: int

    @property
    def n_mupr_cells(self) -> int:
        return sum(len(self.body_cells[f.body]) for f in self.files)

    def mupr_cells(self, files: list[MuprFile] | None = None) -> Iterator[Cell]:
        for f in self.files if files is None else files:
            for (unit, col), values in self.body_cells[f.body].items():
                yield (f"{f.prefix}{DELIM}{unit}", col), values

    def cells(self) -> Iterator[Cell]:
        """Every cell the batch puts in the store, MUPR and MUCR."""
        yield from self.mupr_cells()
        yield from self.mucr_cells.items()

    def write(self, root: str) -> tuple[str, str, str]:
        """Write the batch under ``root``; returns (mupr_dir, mucr_dir,
        trigger_csv)."""
        mupr_dir = os.path.join(root, "mupr")
        mucr_dir = os.path.join(root, "mucr")
        files = {f.name: self.body_bytes[f.body] for f in self.files}
        for d, named in ((mupr_dir, files), (mucr_dir, self.mucr)):
            os.makedirs(d, exist_ok=True)
            for name, data in named.items():
                with open(os.path.join(d, name), "wb") as fh:
                    fh.write(data)
        trig = os.path.join(root, "trigger.csv")
        with open(trig, "wb") as fh:
            fh.write(self.trigger_csv)
        return mupr_dir, mucr_dir, trig


def _fmt_float(x: float) -> str:
    # values are multiples of 1/8 below 1e5: Java's Float.toString and
    # Python's repr print them identically ("12.125", "3.0")
    return repr(float(x))


def file_lots(rng: np.random.Generator, n_files: int) -> np.ndarray:
    """Lot of each of ``n_files`` files: a fixed Zipf split of the files
    over the lots, so every seed gets the same skew; the seed picks which
    lot takes which share, and the file order."""
    w = 1.0 / np.arange(1, N_LOTS + 1) ** LOT_SKEW
    exact = w / w.sum() * n_files
    counts = np.floor(exact).astype(int)
    counts[np.argsort(counts - exact, kind="stable")[: n_files - counts.sum()]] += 1
    return rng.permutation(np.repeat(rng.permutation(N_LOTS), counts))


def mupr_body(
    rng: np.random.Generator, sizes: Sizes
) -> tuple[list[str], dict[tuple[str, str], tuple[str, ...]]]:
    """MUPR lines of one body; also returns its cells as (unit, test_name)
    -> sorted values, each value in the store's ``\\x00``-joined layout."""
    n_t, n_v = sizes.tests, sizes.values
    test_ids = 1000 + np.sort(rng.choice(4000, n_t, replace=False))
    lines: list[str] = []
    cells: dict[tuple[str, str], list[str]] = {}
    n = sizes.units * n_t * n_v
    meas = rng.integers(0, 800_000, n) / 8.0
    sub = rng.integers(0, 8, n)
    sess = rng.integers(1, 4, sizes.units)
    vec = rng.integers(0, 256, (n, 3))
    i = 0
    for u_i in range(sizes.units):
        unit = str(u_i + 1)
        for t_i, tid in enumerate(test_ids):
            name = f"tst{tid}_p{t_i % 5}"
            for v in range(n_v):
                act, pf, mask = (format(int(b), "08b") for b in vec[i])
                fields = (
                    unit, f"S{sub[i]}", str(sess[u_i]), str(t_i + 1),
                    _fmt_float(v + 1), str(tid), _fmt_float(meas[i]),
                    act, pf, mask, name,
                )
                lines.append(DELIM.join(fields))
                value = DELIM.join(
                    (fields[6], fields[1], fields[3], fields[2],
                     act, pf, mask, fields[4])
                )
                cells.setdefault((unit, name), []).append(value)
                i += 1
    return lines, {k: tuple(sorted(v)) for k, v in cells.items()}


def mucr_lines(
    rng: np.random.Generator, n_lines: int, n_units: int
) -> tuple[list[str], list[tuple[int, str, str]], int]:
    """MUCR lines; returns (lines, (unit, qualifier, value) per counter of
    the well-formed lines, number of well-formed lines)."""
    lines: list[str] = []
    counters: list[tuple[int, str, str]] = []
    valid = 0
    for i in range(n_lines):
        unit = int(rng.integers(0, n_units))
        flg = "P" if rng.random() < 0.8 else "F"
        sub = f"S{int(rng.integers(0, 8))}"
        n = int(rng.integers(1, 6))
        trip = []
        for c in range(n):
            cid = f"CNT{int(rng.integers(0, 40)):02d}x{'y' * int(rng.integers(0, 3))}"
            occ, seq = str(int(rng.integers(1, 50))), str(i * 10 + c)
            trip.append((cid, occ, seq))
        bad = rng.random() < MUCR_BAD_SHARE
        claimed = n + 2 if bad else n
        head = [str(unit), "1", "PRG_A", flg, sub, str(claimed)]
        tail = [x for t in trip for x in t]
        lines.append(DELIM.join(head + tail))
        if not bad:
            valid += 1
            for cid, occ, seq in trip:
                qual = flg + format(len(cid), "x") + cid
                counters.append((unit, qual, DELIM.join((seq, sub, occ))))
    return lines, counters, valid


def mupr_batch(seed: int, index: int, sizes: Sizes, tag: str = "b") -> Batch:
    """Trigger batch ``index`` of the ingest workloads.  ``Lots_seq_key``
    is unique per file across batches, so batches never share a cell."""
    rng = _rng(seed, 1, index)
    bodies = [mupr_body(rng, sizes) for _ in range(sizes.bodies)]
    body_bytes = [("\n".join(lines) + "\n").encode() for lines, _ in bodies]
    n_files = sizes.mupr_files + sizes.mucr_files
    lots = file_lots(rng, n_files)
    body_of = rng.integers(0, sizes.bodies, sizes.mupr_files)
    trig = ["File_Name,Lot,Lato_Start_WW,Lots_seq_key"]
    files: list[MuprFile] = []
    mucr: dict[str, bytes] = {}
    mucr_cells: dict[tuple[str, str], list[str]] = {}
    mucr_n = mucr_ok = 0
    for f, lot in enumerate(lots):
        seq_key = 100_000_000 + index * 100_000 + f
        prefix = DELIM.join((lot_name(lot), str(lot_ww(lot)), str(seq_key)))
        is_mupr = f < sizes.mupr_files
        name = f"{tag}{index:04d}_f{f:05d}.{'mupr' if is_mupr else 'mucr'}"
        trig.append(f"{name},{lot_name(lot)},{lot_ww(lot)},{seq_key}")
        if is_mupr:
            files.append(MuprFile(name, int(lot), prefix, int(body_of[f])))
        else:
            lines, recs, ok = mucr_lines(rng, sizes.mucr_lines, sizes.units)
            mucr_n += len(lines)
            mucr_ok += ok
            for u, q, value in recs:
                mucr_cells.setdefault((f"{prefix}{DELIM}{u}", q), []).append(value)
            mucr[name] = ("\n".join(lines) + "\n").encode()
    trig_bytes = ("\n".join(trig) + "\n").encode()
    per_body = sizes.units * sizes.tests * sizes.values
    return Batch(
        index=index,
        trigger_csv=trig_bytes,
        files=files,
        body_bytes=body_bytes,
        body_cells=[cells for _, cells in bodies],
        mucr=mucr,
        mucr_cells={k: tuple(sorted(v)) for k, v in mucr_cells.items()},
        mupr_rows=per_body * sizes.mupr_files,
        mucr_lines=mucr_n,
        mucr_valid_lines=mucr_ok,
        input_bytes=len(trig_bytes)
        + sum(len(body_bytes[f.body]) for f in files)
        + sum(map(len, mucr.values())),
    )


# ---------------------------------------------------------------------------
# Hashes
# ---------------------------------------------------------------------------


def row_hash(row) -> int:
    """Order-insensitive building block: 64-bit digest of one row."""
    text = "\x1f".join("\x1eNULL" if v is None else str(v) for v in row)
    return int.from_bytes(hashlib.blake2b(text.encode(), digest_size=8).digest(), "little")


def rows_hash(rows) -> int:
    return sum(map(row_hash, rows)) % (1 << 64)


def cell_row(key: tuple[str, str], values) -> tuple[str, str, str]:
    """A stored cell as one hashable row: its values joined in order."""
    return (key[0], key[1], "\x1d".join(values))


def cells_digest(cells) -> tuple[int, int]:
    """(count, order-free hash) of ``cells``, an iterable of ``Cell``."""
    n = h = 0
    for key, values in cells:
        n += 1
        h += row_hash(cell_row(key, values))
    return n, h % (1 << 64)


# ---------------------------------------------------------------------------
# Read-back requests
# ---------------------------------------------------------------------------


@dataclass
class Request:
    kind: str  # "get" | "scan"
    #: get: (row_key, col_name) pairs; scan: one "Lot\x00WW" prefix
    keys: list[tuple[str, str]] | str
    #: get: one row per cell found; scan: decoded rows
    expected_rows: int
    expected_hash: int


def decoded_rows(cells) -> list[tuple]:
    """``decode_cells`` output of ``cells``: one row per value."""
    out = []
    for (rk, cn), values in cells:
        key = rk.split(DELIM)
        out.extend((*key, cn, *v.split(DELIM)) for v in values)
    return out


def _get_keys(rng, batch: Batch, p: np.ndarray, n: int) -> list[tuple[str, str]]:
    """``n`` distinct stored keys: a file drawn with weight ``p``, then a
    cell of it drawn uniformly."""
    body_keys = [sorted(c) for c in batch.body_cells]
    picked: dict[tuple[str, str], None] = {}
    while len(picked) < n:
        need = n - len(picked)
        for f, c in zip(rng.choice(len(batch.files), need, p=p), rng.random(need)):
            file = batch.files[f]
            keys = body_keys[file.body]
            unit, col = keys[int(c * len(keys))]
            picked.setdefault((f"{file.prefix}{DELIM}{unit}", col), None)
    return list(picked)


def readback_requests(seed: int, batch: Batch, n: int) -> list[Request]:
    """Seeded request mix against a store holding ``batch``'s MUPR cells:
    blocks of five, three bulkGets and two prefix scans in seeded order.
    Get keys favour recent lots (a file's weight grows with its lot's
    week) and a share of each get names cells that were never written.
    Every scan reads the ``Lot\\x00WW`` prefix of the lot of popularity
    rank ``SCAN_LOT_RANK``, so scans cost the same whatever the seed."""
    rng = _rng(seed, 2)
    body_of = {f.prefix: f.body for f in batch.files}

    def stored(rk: str, cn: str) -> tuple[str, ...] | None:
        prefix, _, unit = rk.rpartition(DELIM)
        body = body_of.get(prefix)
        return None if body is None else batch.body_cells[body].get((unit, cn))

    lots = np.array([f.lot for f in batch.files])
    p = (lots + 1.0) ** 2
    p /= p.sum()
    per_lot = np.bincount(lots, minlength=N_LOTS)
    lot = sorted(range(N_LOTS), key=lambda i: (-per_lot[i], i))[SCAN_LOT_RANK - 1]
    rows = decoded_rows(batch.mupr_cells([f for f in batch.files if f.lot == lot]))
    scan = Request("scan", DELIM.join((lot_name(lot), str(lot_ww(lot)))), len(rows), rows_hash(rows))
    n_absent = int(GET_KEYS * ABSENT_SHARE)
    out: list[Request] = []
    while len(out) < n:
        for kind in rng.permutation(["get"] * 3 + ["scan"] * 2):
            if kind == "scan":
                out.append(scan)
                continue
            req = _get_keys(rng, batch, p, GET_KEYS - n_absent)
            for j, (rk, cn) in enumerate(_get_keys(rng, batch, p, n_absent)):
                req.append((rk + "x", cn) if j % 2 else (rk, cn + "_absent"))
            found = [cell_row(k, v) for k in req if (v := stored(*k)) is not None]
            out.append(Request("get", req, len(found), rows_hash(found)))
    return out[:n]
