"""Pure helpers for the benchmark's metrics (no Spark, no I/O)."""

TAIL_BEYOND = 10


def tail(values):
    """Latency at the highest percentile that still has at least ten
    samples beyond it, by nearest rank: the sample at sorted index
    n - 11. Returns (value, percentile, n). With ten or fewer samples no
    percentile qualifies and the maximum is returned, stamped p100."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    k = n - 1 - TAIL_BEYOND
    if k < 0:
        return xs[-1], 100.0, n
    return xs[k], 100.0 * (k + 1) / n, n


def written_bytes(before, after):
    """Bytes an ingest wrote: the sizes of the files in `after` that are
    new or changed (size or mtime) since `before`; both map a path to
    (size, mtime)."""
    return sum(v[0] for p, v in after.items() if tuple(before.get(p, ())) != tuple(v))


def amplification(written_bytes, store_bytes, text_bytes):
    """(write_amp, space_amp): bytes written to storage and final stored
    bytes, each per UTF-8 byte of ingested text."""
    if text_bytes <= 0:
        raise ValueError("no ingested text")
    return written_bytes / text_bytes, store_bytes / text_bytes


def layer_totals(op_layers):
    """Sum per-operation layer dicts into run totals, and add for every
    time total `<layer>.<x>_s` its share of operation wall time as
    `<layer>.<x>_share`."""
    tot = {}
    for d in op_layers:
        for k, v in d.items():
            tot[k] = tot.get(k, 0.0) + v
    wall = tot.get("wall_s", 0.0)
    for k in [k for k in tot if k.endswith("_s") and k != "wall_s"]:
        tot[k[:-2] + "_share"] = tot[k] / wall if wall > 0 else 0.0
    return tot
