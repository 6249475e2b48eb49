"""Seeded intake CSV generator with planted rejects and their expected counts.

Each call writes ONE CSV file, as the reference's ``CsvGenerator`` does, in
the header + 4-column layout of FIXTURES.md F1: sequential 10-digit ids,
``Item_<1..999>`` names, quantity 1..9999 and a yyyy-MM-dd expiry date. On
top of the valid rows it plants, at seeded positions:

- rows whose id is already in the store (``existing_pool``);
- rows that repeat the id of an earlier valid row of the same file;
- rows for the four other reject categories: short rows (2 cells, 3 cells,
  and 3 cells of which one is a quoted field holding a comma), an empty
  externalId, an empty name, an invalid quantity and an invalid date;
- valid rows whose name is a quoted field holding a comma.

The expected ``UploadResult`` counts follow from the planted kinds alone:
no id is shared except through the two duplicate kinds, so the reference's
claim-on-rules-1-3 quirk never decides a label.
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass, field

import numpy as np

# The reference's reject labels (FIXTURES.md F1a), written out here rather
# than imported from operators/validate.py: the check's expectations must
# not come from the code it checks.
ERR_TOO_FEW = "too few columns"
ERR_ID_EMPTY = "externalId empty"
ERR_NAME_EMPTY = "name empty"
ERR_DUP = "duplicate externalId"
ERR_QTY = "quantity invalid"
ERR_DATE = "expiryDate invalid (expected yyyy-MM-dd)"
ERROR_LABELS = (ERR_TOO_FEW, ERR_ID_EMPTY, ERR_NAME_EMPTY, ERR_DUP, ERR_QTY, ERR_DATE)

HEADER = "externalId,name,quantity,expiryDate"
ID_BASE = 1_000_000_000
EPOCH = _dt.date(2026, 1, 1)

# Row kinds. VALID and QUOTED_VALID are inserted; every other kind is
# rejected with the label in KIND_LABEL.
VALID, QUOTED_VALID, EXISTING, IN_FILE_DUP, SHORT2, SHORT3, SHORT3_QUOTED = range(7)
ID_EMPTY, NAME_EMPTY, QTY_BAD, DATE_BAD = range(7, 11)
KIND_LABEL = {
    EXISTING: ERR_DUP,
    IN_FILE_DUP: ERR_DUP,
    SHORT2: ERR_TOO_FEW,
    SHORT3: ERR_TOO_FEW,
    SHORT3_QUOTED: ERR_TOO_FEW,
    ID_EMPTY: ERR_ID_EMPTY,
    NAME_EMPTY: ERR_NAME_EMPTY,
    QTY_BAD: ERR_QTY,
    DATE_BAD: ERR_DATE,
}
# Share of a file's rows per planted kind, as a (low, high) band the seed
# draws from. The bands are narrow so that every seed does about the same
# work: the benchmark's run-to-run spread is taken across seeds.
SHARES = {
    EXISTING: (0.09, 0.11),
    IN_FILE_DUP: (0.018, 0.022),
    QUOTED_VALID: (0.009, 0.011),
    SHORT2: (0.0018, 0.0022),
    SHORT3: (0.0018, 0.0022),
    SHORT3_QUOTED: (0.0018, 0.0022),
    ID_EMPTY: (0.0027, 0.0033),
    NAME_EMPTY: (0.0027, 0.0033),
    QTY_BAD: (0.0045, 0.0055),
    DATE_BAD: (0.0045, 0.0055),
}
_BAD_QTY = ("lots", "12.5", "99999999999", "3000000000", "")
_BAD_DATE = ("01/09/2026", "2026-13-01", "2026-1-5", "tomorrow", "")

_NAMES = [f"Item_{k}" for k in range(1, 1000)]
_QTYS = [str(k) for k in range(1, 10000)]
_DATES = [(EPOCH + _dt.timedelta(days=k)).isoformat() for k in range(1, 365)]


@dataclass
class Planted:
    """What one generated file must produce when uploaded."""

    rows: int
    inserted: int
    error_counts: dict[str, int]
    inserted_ids: np.ndarray = field(repr=False)
    next_fresh_id: int = 0

    @property
    def failed(self) -> int:
        return self.rows - self.inserted

    def matches(self, result) -> bool:
        """True when an ``UploadResult`` carries exactly these counts."""
        return (
            result.processed == self.rows
            and result.inserted == self.inserted
            and result.failed == self.failed
            and dict(result.error_counts) == self.error_counts
        )


def _kinds(rng: np.random.Generator, n_rows: int, has_existing: bool) -> np.ndarray:
    kinds = np.full(n_rows, VALID, dtype=np.int8)
    start = 0
    for kind, (lo, hi) in SHARES.items():
        if kind == EXISTING and not has_existing:
            continue
        k = max(1, int(round(n_rows * rng.uniform(lo, hi))))
        kinds[start : start + k] = kind
        start += k
    if start > n_rows // 2:
        raise ValueError(f"{n_rows} rows are too few to plant every kind")
    return kinds[rng.permutation(n_rows)]


def write_intake_csv(
    path: str,
    rng: np.random.Generator,
    n_rows: int,
    fresh_id: int,
    existing_pool: np.ndarray | None = None,
) -> Planted:
    """Write one intake CSV of ``n_rows`` data rows to ``path``.

    Fresh ids are ``fresh_id, fresh_id + 1, ...``; rows of the EXISTING kind
    take distinct ids drawn from ``existing_pool`` (ids the store holds), so
    the caller keeps id ranges of successive files disjoint by passing the
    returned ``next_fresh_id`` on.
    """
    pool = np.asarray(existing_pool if existing_pool is not None else [], dtype=np.int64)
    kinds = _kinds(rng, n_rows, has_existing=len(pool) > 0)
    n_existing = int((kinds == EXISTING).sum())
    if n_existing > len(pool):
        raise ValueError(f"{n_existing} existing-id rows need a larger pool than {len(pool)}")

    ids = np.arange(fresh_id, fresh_id + n_rows, dtype=np.int64)
    ids[kinds == EXISTING] = rng.choice(pool, size=n_existing, replace=False)
    # An in-file duplicate repeats a valid row that comes earlier in the
    # file; one with no valid row before it becomes valid itself.
    valid_pos = np.flatnonzero((kinds == VALID) | (kinds == QUOTED_VALID))
    dup_pos = np.flatnonzero(kinds == IN_FILE_DUP)
    before = np.searchsorted(valid_pos, dup_pos)
    kinds[dup_pos[before == 0]] = VALID
    keep = before > 0
    dup_pos, before = dup_pos[keep], before[keep]
    ids[dup_pos] = valid_pos[(rng.random(len(before)) * before).astype(np.int64)]
    ids[dup_pos] = ids[ids[dup_pos]]

    name_i = rng.integers(0, len(_NAMES), n_rows)
    qty_i = rng.integers(0, len(_QTYS), n_rows)
    date_i = rng.integers(0, len(_DATES), n_rows)
    id_s = ids.astype(str).tolist()
    lines = [
        f"{i},{_NAMES[a]},{_QTYS[b]},{_DATES[c]}"
        for i, a, b, c in zip(id_s, name_i.tolist(), qty_i.tolist(), date_i.tolist())
    ]
    for p in np.flatnonzero(kinds != VALID).tolist():
        k, i, nm, q, d = kinds[p], id_s[p], _NAMES[name_i[p]], _QTYS[qty_i[p]], _DATES[date_i[p]]
        if k == QUOTED_VALID:
            lines[p] = f'{i},"{nm}, size {q}",{q},{d}'
        elif k == SHORT2:
            lines[p] = f"{i},{nm}"
        elif k == SHORT3:
            lines[p] = f"{i},{nm},{q}"
        elif k == SHORT3_QUOTED:
            lines[p] = f'{i},"{nm}, size {q}",{q}'
        elif k == ID_EMPTY:
            lines[p] = f"{' ' if p % 2 else ''},{nm},{q},{d}"
        elif k == NAME_EMPTY:
            lines[p] = f"{i},{' ' if p % 2 else ''},{q},{d}"
        elif k == QTY_BAD:
            lines[p] = f"{i},{nm},{_BAD_QTY[p % len(_BAD_QTY)]},{d}"
        elif k == DATE_BAD:
            lines[p] = f"{i},{nm},{q},{_BAD_DATE[p % len(_BAD_DATE)]}"
    with open(path, "w", encoding="utf-8") as f:
        f.write(HEADER + "\n")
        f.write("\n".join(lines))
        f.write("\n")

    counts: dict[str, int] = {}
    for kind, label in KIND_LABEL.items():
        c = int((kinds == kind).sum())
        if c:
            counts[label] = counts.get(label, 0) + c
    inserted_mask = (kinds == VALID) | (kinds == QUOTED_VALID)
    return Planted(
        rows=n_rows,
        inserted=int(inserted_mask.sum()),
        error_counts=counts,
        inserted_ids=ids[inserted_mask],
        next_fresh_id=fresh_id + n_rows,
    )
