"""Row normalization shared by gate_sim.py and perfbench's output
checks (an order-insensitive row compare)."""
import datetime
import math


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None
        r = round(v, 6)
        # collapse IEEE negative zero: -0.0 == 0.0 but repr differs, and
        # norm_rows sorts by repr — a cosine whose last-bit SIGN differs
        # between engines (true value ~1e-18, rounded to +/-0.0) would
        # scramble the sorted alignment into a false mismatch (sf1 find)
        return 0.0 if r == 0 else r
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(norm_cell(x) for x in v)
    return v


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(norm_cell(r[i]) for i in order) for r in rows), key=repr
    )
