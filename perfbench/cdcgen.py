"""Seeded T24 CDC input and its expected SINK rows, in plain Python.

The generator draws structured records from ``random.Random(seed)`` and
renders each one as the Kafka wire row the engine consumes
(``KAFKA_WIRE_SCHEMA``: JSON ``{"RECID", "XMLRECORD"}`` bytes in
``value``).  The expected SINK rows are computed from the same
structured records by :func:`expected_rows`, which never imports the
package: it is the independent model the correctness check compares
the engine's parquet sink with.

Make-up of one record:

- ``RECID`` drawn from a pool 3/4 the size of the input, so RECIDs
  repeat the way updates of one T24 record do;
- single-value fields for every DSL branch that applies to XML
  payloads (see :data:`SPEC_DICT`);
- ``PART`` (VM) with 1-6 elements and ``QTY`` (VS) with the same count,
  one more or one fewer, so the positional zip pads with NULL;
- malformed values at a fixed share, chosen by record index: an
  impossible ``yyyyMMdd`` date, a non-numeric AMOUNT and empty
  multivalue strings.  ANSI mode is off, so the engine turns each of
  them into NULL, and the model expects NULL.
"""

from __future__ import annotations

import datetime
import json
import random
import re
from dataclasses import dataclass
from decimal import Decimal

#: one record in :data:`MALFORMED_EVERY` carries each malformed kind
MALFORMED_EVERY = 20
BAD_DATE, BAD_AMOUNT, EMPTY_MV = 3, 7, 11  # record index % MALFORMED_EVERY

TOPIC = "t24-funds-transfer-cdc"

#: the ``POST /api/etl-pipeline`` body the benchmark compiles
SPEC_DICT = {
    "schemaName": "FBNK_FUNDS_TRANSFER",
    "procType": "XML",
    "procData": [
        {"name": "RECID", "transformation": "UCASE($)"},
        {"name": "STATUS", "transformation": "UCASE($) STATUS_UC"},
        {"name": "CUSTOMER"},
        {"name": "AMOUNT", "type": ["string", "decimal(18,2)"]},
        {"name": "VALUE_DATE", "transformation": "parse_date"},
        {"name": "NARRATIVE", "transformation": "substring"},
        {"name": "CO_CODE", "transformation": "seab_field"},
        {"name": "INPUTTER", "transformation": "seab_field([1]) INPUTTER_ID"},
        {
            "name": "PART",
            "should_parse_sv": False,
            "should_parse_vm": True,
        },
        {
            "name": "QTY",
            "type": ["string", "decimal(12,2)"],
            "should_parse_sv": False,
            "should_parse_vs": True,
        },
    ],
}

#: SINK columns in projection order (singles, then VM, then VS)
SINK_COLUMNS = [
    ("RECID", "VARCHAR"),
    ("STATUS_UC", "VARCHAR"),
    ("CUSTOMER", "VARCHAR"),
    ("AMOUNT", "DECIMAL(18,2)"),
    ("VALUE_DATE", "DATE"),
    ("NARRATIVE", "VARCHAR"),
    ("CO_CODE", "VARCHAR"),
    ("INPUTTER_ID", "VARCHAR"),
    ("PART", "VARCHAR"),
    ("QTY", "DECIMAL(12,2)"),
]

_WORDS = (
    "payment salary invoice transfer loan repayment fee refund rent "
    "deposit card settlement branch customer account reference batch"
).split()
_STATUSES = ("live", "Hold", "INAU", "rnau", "ihld")
_USERS = ("ANNA", "BAO", "CHI", "DUC", "EVA", "FAN", "GIA", "HUNG")


@dataclass(frozen=True)
class CdcRecord:
    """One CDC change event, before rendering: the XMLRECORD map plus
    what the model needs to compute the expected rows."""

    recid: str
    fields: dict[str, str]


def _ordinal_join(values: list[str], sub: bool) -> str:
    prefix = "s" if sub else ""
    return "#".join(f"{prefix}{i}:{v}" for i, v in enumerate(values, 1))


def make_records(seed: int, n: int) -> list[CdcRecord]:
    """``n`` records drawn from ``seed`` (same seed, same records)."""
    rng = random.Random(seed)
    pool = max(1, n * 3 // 4)
    start = datetime.date(2020, 1, 1)
    out = []
    for i in range(n):
        kind = i % MALFORMED_EVERY
        n_part = rng.randint(1, 6)
        n_qty = max(1, n_part + rng.choice((-1, 0, 0, 0, 1)))
        parts = [f"PRD{rng.randrange(10_000):04d}" for _ in range(n_part)]
        qtys = [f"{rng.randrange(1, 100_000) / 100:.2f}" for _ in range(n_qty)]
        users = [
            f"{rng.randrange(1, 99)}_{rng.choice(_USERS)}_I_INAU"
            for _ in range(rng.randint(1, 3))
        ]
        value_date = (start + datetime.timedelta(days=rng.randrange(2000))).strftime(
            "%Y%m%d"
        )
        amount = f"{rng.randrange(100, 10**9) / 100:.2f}"
        if kind == BAD_DATE:
            value_date = rng.choice(("20231345", "20230230", "20221232", "2023AB01"))
        if kind == BAD_AMOUNT:
            amount = rng.choice(("12A4.50", "N/A", "1,234.00", "--5"))
        part_mv, qty_mv = _ordinal_join(parts, False), _ordinal_join(qtys, True)
        if kind == EMPTY_MV:
            part_mv, qty_mv = "", ""
        fields = {
            "STATUS": rng.choice(_STATUSES),
            "CUSTOMER": f"{rng.randrange(100_000, 999_999)}",
            "AMOUNT": amount,
            "VALUE_DATE": value_date,
            "NARRATIVE": " ".join(rng.choice(_WORDS) for _ in range(rng.randint(2, 9))),
            "CO_CODE": f"VN_{rng.randrange(1, 50):07d}",
            "INPUTTER_multivalue": _ordinal_join(users, False),
            "PART_multivalue": part_mv,
            "QTY_multivalue": qty_mv,
        }
        out.append(CdcRecord(recid=f"ft{rng.randrange(pool):08d}", fields=fields))
    return out


def wire_rows(records: list[CdcRecord], first_offset: int) -> list[tuple]:
    """Records as ``KAFKA_WIRE_SCHEMA`` tuples (key, value, topic,
    partition, offset, timestamp, timestampType)."""
    t0 = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    rows = []
    for j, r in enumerate(records):
        off = first_offset + j
        value = json.dumps({"RECID": r.recid, "XMLRECORD": r.fields})
        rows.append(
            (
                r.recid.encode(),
                value.encode(),
                TOPIC,
                off % 4,
                off,
                t0 + datetime.timedelta(milliseconds=off),
                0,
            )
        )
    return rows


# ---------------------------------------------------------------------------
# The independent model of the SINK rows
# ---------------------------------------------------------------------------

_ORDINAL = re.compile(r"^s?[0-9]+:")
_MV_SEP = re.compile(r"#(?:s?[0-9]+:)?")
_INDEX_SPLIT = re.compile(r"^s?[0-9]+:|#(?:s?[0-9]+:)?")
_DECIMAL = re.compile(r"^[+-]?[0-9]+(\.[0-9]+)?$")


def _mv(value: str | None) -> list[str]:
    if value is None:
        return []
    return [x for x in _MV_SEP.split(_ORDINAL.sub("", value, count=1)) if x]


def _token2(value: str | None) -> str | None:
    if value is None:
        return None
    parts = value.split("_")
    return parts[1] if len(parts) > 1 else None


def _decimal(value: str | None, scale: int) -> Decimal | None:
    if value is None or not _DECIMAL.match(value):
        return None
    return Decimal(value).quantize(Decimal(1).scaleb(-scale))


def _date(value: str | None) -> datetime.date | None:
    if value is None or not re.fullmatch(r"[0-9]{8}", value):
        return None
    try:
        return datetime.datetime.strptime(value, "%Y%m%d").date()
    except ValueError:
        return None


def fan_out(r: CdcRecord) -> int:
    """SINK rows one record yields: ``posexplode_outer`` over the zip of
    its VM and VS arrays gives max(#PART, #QTY, 1)."""
    return max(len(_mv(r.fields.get("PART_multivalue"))), len(_mv(r.fields.get("QTY_multivalue"))), 1)


def expected_rows(records: list[CdcRecord]) -> list[tuple]:
    """The SINK rows of :data:`SPEC_DICT` over ``records``, in
    :data:`SINK_COLUMNS` order."""
    out = []
    for r in records:
        f = r.fields
        users = [x for x in _INDEX_SPLIT.split(f["INPUTTER_multivalue"]) if x]
        singles = (
            r.recid.upper(),
            f["STATUS"].upper(),
            f["CUSTOMER"],
            _decimal(f["AMOUNT"], 2),
            _date(f["VALUE_DATE"]),
            f["NARRATIVE"][:35],
            _token2(f["CO_CODE"]),
            _token2(users[0] if users else None),
        )
        parts, qtys = _mv(f.get("PART_multivalue")), _mv(f.get("QTY_multivalue"))
        for k in range(max(len(parts), len(qtys), 1)):
            part = parts[k] if k < len(parts) else None
            qty = _decimal(qtys[k], 2) if k < len(qtys) else None
            out.append(singles + (part, qty))
    return out
