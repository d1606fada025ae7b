"""LSN / offset arithmetic as column expressions.

The reference parses PostgreSQL WAL LSNs (``X/Y`` hex) into int64 in Python
(`backend/ingestion/connectors/postgresql.py:657-669`, duplicated at
`backend/ingestion/api.py:8595-8615`) and computes lag gaps
(`api.py:8587-8619`). Here they are pure Spark expressions so lag math runs
distributed over the metrics table, not row-at-a-time on a driver.

All four engine offset formats the reference emits are covered:

- PostgreSQL ``X/Y`` WAL position (hex pair);
- SQL Server ``file:slot:op`` hex triple (`connectors/sqlserver.py:2521-2677`);
- Oracle ``SCN:{n}`` system change number
  (`connectors/oracle.py:203-263` — ``lsn = f"SCN:{current_scn}"``);
- AS400/IBM i ``JOURNAL:{library}:{iso-timestamp}`` journal pseudo-LSN
  (`connectors/as400.py:747-844` —
  ``lsn_value = f"JOURNAL:{journal_library}:{current_timestamp}"``).

Each parses to one ORDERABLE int64 (SCN is the integer itself; the journal
pseudo-LSN orders by its timestamp within a library, so the long is epoch
microseconds), so gap/lag math is uniform across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def pg_lsn_to_long(lsn: Column | str) -> Column:
    """``'16/B374D848'`` -> ``(0x16 << 32) | 0xB374D848`` as a long."""
    c = F.col(lsn) if isinstance(lsn, str) else lsn
    hi = F.conv(F.split(c, "/").getItem(0), 16, 10).cast("long")
    lo = F.conv(F.split(c, "/").getItem(1), 16, 10).cast("long")
    return (F.shiftleft(hi, 32) + lo).alias("lsn_long")


def long_to_pg_lsn(v: Column | str) -> Column:
    """Inverse of :func:`pg_lsn_to_long` (upper-case hex, no padding)."""
    c = F.col(v) if isinstance(v, str) else v
    hi = F.upper(F.hex(F.shiftrightunsigned(c, 32)))
    lo = F.upper(F.hex(c.bitwiseAND(F.lit(0xFFFFFFFF))))
    return F.concat_ws("/", hi, lo)


def lsn_gap_bytes(source_lsn: Column, processed_lsn: Column) -> Column:
    """``max(0, source - processed)`` in bytes (reference api.py:8606-8612)."""
    gap = pg_lsn_to_long(source_lsn) - pg_lsn_to_long(processed_lsn)
    return F.greatest(gap, F.lit(0).cast("long"))


def sqlserver_lsn_to_long(lsn: Column | str) -> Column:
    """SQL Server LSN ``file:slot:op`` hex triple -> orderable long
    (reference format: `connectors/sqlserver.py:2521-2677`). The three parts
    are 4/4/2 bytes; pack as (file<<48)|(slot<<16)|op."""
    c = F.col(lsn) if isinstance(lsn, str) else lsn
    part = lambda i: F.conv(F.split(c, ":").getItem(i), 16, 10).cast("long")
    return F.shiftleft(part(0), 48) + F.shiftleft(part(1), 16) + part(2)


def long_to_sqlserver_lsn(v: Column | str) -> Column:
    """Inverse of :func:`sqlserver_lsn_to_long` (upper-case hex, no padding)."""
    c = F.col(v) if isinstance(v, str) else v
    file_ = F.upper(F.hex(F.shiftrightunsigned(c, 48)))
    slot = F.upper(
        F.hex(F.shiftrightunsigned(c, 16).bitwiseAND(F.lit(0xFFFFFFFF)))
    )
    op = F.upper(F.hex(c.bitwiseAND(F.lit(0xFFFF))))
    return F.concat_ws(":", file_, slot, op)


def oracle_scn_to_long(lsn: Column | str) -> Column:
    """Oracle ``'SCN:274056831'`` -> 274056831 as a long.

    The reference emits ``f"SCN:{current_scn}"`` from ``V$DATABASE``
    (`connectors/oracle.py:203-263`); the SCN itself IS the orderable
    offset, so the parse is prefix-strip + cast. A malformed value (missing
    prefix / non-digit payload) yields NULL, matching the reference's
    ``lsn = None`` on extraction failure."""
    c = F.col(lsn) if isinstance(lsn, str) else lsn
    digits = F.regexp_extract(c, r"^SCN:(\d+)$", 1)
    return F.when(digits != "", digits.cast("long")).otherwise(
        F.lit(None).cast("long")
    )


def long_to_oracle_scn(v: Column | str) -> Column:
    """Inverse of :func:`oracle_scn_to_long`."""
    c = F.col(v) if isinstance(v, str) else v
    return F.concat(F.lit("SCN:"), c.cast("string"))


def as400_journal_to_long(lsn: Column | str) -> Column:
    """AS400 ``'JOURNAL:{library}:{iso-timestamp}'`` -> epoch MICROSECONDS.

    The reference emits ``f"JOURNAL:{journal_library}:{timestamp}"`` with an
    ISO-8601 ``datetime.utcnow().isoformat()`` payload
    (`connectors/as400.py:747-844`). Within one journal library the
    pseudo-LSN orders by its timestamp, so the orderable long is epoch
    microseconds (UTC — the session timezone the engine pins). The library
    segment never contains ``:`` (IBM i object names are 10-char
    alphanumerics), so the timestamp is everything after the second colon.
    """
    c = F.col(lsn) if isinstance(lsn, str) else lsn
    ts = F.regexp_extract(c, r"^JOURNAL:[^:]+:(.+)$", 1)
    return F.when(
        ts != "", F.unix_micros(F.to_timestamp(ts))
    ).otherwise(F.lit(None).cast("long"))


def as400_journal_library(lsn: Column | str) -> Column:
    """The ``{library}`` segment of an AS400 journal pseudo-LSN."""
    c = F.col(lsn) if isinstance(lsn, str) else lsn
    return F.regexp_extract(c, r"^JOURNAL:([^:]+):", 1)


def long_to_as400_journal(v: Column | str, library: Column | str = "QSYS") -> Column:
    """Inverse of :func:`as400_journal_to_long`: epoch micros -> the
    reference's ``JOURNAL:{library}:{iso}`` string (6-digit microseconds,
    the ``datetime.isoformat()`` canonical form for non-zero micros)."""
    c = F.col(v) if isinstance(v, str) else v
    lib = F.lit(library) if isinstance(library, str) else library
    iso = F.date_format(
        F.timestamp_micros(c), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
    )
    return F.concat(F.lit("JOURNAL:"), lib, F.lit(":"), iso)


def offset_to_long(offset: Column | str, engine: Column | str) -> Column:
    """Dispatch an offset string to its engine's parser — the shape of a
    real multi-source lag table (one ``engine`` column, one ``offset``
    string column, as the reference's per-connector ``extract_lsn_offset``
    results land in a shared metrics store), with each engine record's
    parser (`sources/dialects.py`). Unknown engines yield NULL."""
    from ..sources.dialects import ALIASES, DIALECTS  # it imports this module

    off = F.col(offset) if isinstance(offset, str) else offset
    eng = F.col(engine) if isinstance(engine, str) else engine
    expr = F.lit(None).cast("long")
    for d in DIALECTS.values():
        if d.offset_parser:
            names = [d.name] + [a for a, n in ALIASES.items() if n == d.name]
            expr = F.when(eng.isin(*names), d.offset_parser(off)).otherwise(expr)
    return expr
