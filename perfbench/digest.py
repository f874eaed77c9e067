"""Python twin of harness/Digest.scala, for rows fetched from DuckDB.

The digest of a result is `<rows>:<sum>` where `sum` is the sum mod 2^64
of the first 8 bytes (big-endian) of each row's MD5. A row is its values
in sorted-column-name order, each in canonical text form, joined by
U+0001. Floating values are rounded to 9 significant digits; timestamps
and dates are microseconds since the epoch (a date is its midnight).
"""
import datetime
import decimal
import hashlib

_SIG = decimal.Context(prec=9, rounding=decimal.ROUND_HALF_EVEN)
_EPOCH = datetime.datetime(1970, 1, 1)


def _decimal(d):
    return "0" if d == 0 else format(d.normalize(decimal.Context(prec=1000)), "f")


def double(x):
    if x != x:
        return "NaN"
    if x in (float("inf"), float("-inf")):
        return "Inf" if x > 0 else "-Inf"
    if x == 0:
        return "0"
    return _decimal(_SIG.plus(decimal.Decimal(x)))


def value(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return double(v)
    if isinstance(v, decimal.Decimal):
        return _decimal(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return str((v - _EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return str((v - _EPOCH.date()).days * 86_400_000_000)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "(" + ",".join(value(x) for x in v.values()) + ")"
    return str(v)


def of(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        text = "\u0001".join(value(r[i]) for i in order)
        total += int.from_bytes(hashlib.md5(text.encode("utf-8")).digest()[:8], "big")
    return f"{len(rows)}:{total % 2**64:016x}"
