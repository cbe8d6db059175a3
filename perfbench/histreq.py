"""Histogram requests of the ``hist_fill`` workload.

A request is a plain description (``dict``) that two interpreters
read: ``build`` turns it into library calls (the fill layer: spec,
axes, storage, fill, routines and object API) and ``reference``
computes the expected dense arrays with numpy from the generated
table, following the documented axis contract (half-open bins, x < lo
underflow, x >= hi overflow, growth categories sorted).

The eleven kinds mirror the registry's headline histogram shapes:
Regular, Variable, 2D, 3D, StrCategory, Weight, Mean, WeightedMean,
multi-fill, arithmetic and an events (day x value) histogram.
"""

from __future__ import annotations

import numpy as np

from gen import EVENTS_T0

KINDS = ("regular", "variable", "hist2d", "hist3d", "strcat", "weight",
         "mean", "wmean", "multifill", "arith", "events")

# derived columns: name -> (Spark column, numpy evaluator); the
# two sides spell the same IEEE double arithmetic
_EXPRS = {
    "disc_w": (lambda F: 1.0 - F.col("l_discount"),
               lambda t: 1.0 - t["l_discount"]),
    "tax500": (lambda F: F.col("l_tax") * 500,
               lambda t: t["l_tax"] * 500),
    "day": (lambda F: (F.col("ts") - EVENTS_T0) / 86400.0,
            lambda t: (t["ts"] - EVENTS_T0) / 86400.0),
}


def _col(F, name):
    return _EXPRS[name][0](F) if name in _EXPRS else F.col(name)


def _np_col(t: dict, name):
    return _EXPRS[name][1](t) if name in _EXPRS else t[name]


def make_request(kind: str, r: np.random.Generator) -> dict:
    """One request of ``kind``.  Its shape (axes, bin counts, storage) is
    fixed, so every seed costs the same; the seed picks the values
    (range start, variable edges, scale factor)."""
    def reg(col, lo, hi, n):
        return ("regular", col, n, lo, hi)

    if kind == "regular":
        lo = float(r.choice([0.0, 1000.0]))
        return {"kind": kind, "table": "lineitem", "storage": "double",
                "axes": [reg("l_extendedprice", lo, 100000.0, 50)]}
    if kind == "variable":
        cuts = sorted(r.choice(np.arange(2, 50), size=6, replace=False))
        edges = [0.0, *map(float, cuts), 50.0]
        return {"kind": kind, "table": "lineitem", "storage": "weight",
                "axes": [("variable", "l_quantity", edges)],
                "weight": "l_extendedprice"}
    if kind == "hist2d":
        return {"kind": kind, "table": "lineitem", "storage": "weight",
                "axes": [reg("l_quantity", 0.0, 50.0, 10),
                         ("regular", "l_discount", 11, 0.0, 0.11)],
                "weight": "disc_w"}
    if kind == "hist3d":
        return {"kind": kind, "table": "lineitem", "storage": "double",
                "axes": [reg("l_quantity", 0.0, 50.0, 10),
                         reg("l_extendedprice", 0.0, 80000.0, 16),
                         ("regular", "l_tax", 4, 0.0, 0.08)]}
    if kind == "strcat":
        return {"kind": kind, "table": "lineitem", "storage": "weight",
                "axes": [("strcat", "l_returnflag"),
                         reg("l_quantity", 0.0, 50.0, 25)],
                "weight": "l_extendedprice"}
    if kind == "weight":
        return {"kind": kind, "table": "lineitem", "storage": "weight",
                "axes": [reg("l_extendedprice", 0.0, 100000.0, 50)],
                "weight": "disc_w"}
    if kind == "mean":
        return {"kind": kind, "table": "lineitem", "storage": "mean",
                "axes": [reg("l_quantity", 0.0, 50.0, 50)],
                "sample": "l_extendedprice"}
    if kind == "wmean":
        return {"kind": kind, "table": "lineitem", "storage": "weighted_mean",
                "axes": [reg("l_quantity", 0.0, 50.0, 50)],
                "weight": "disc_w", "sample": "l_extendedprice"}
    if kind == "multifill":
        return {"kind": kind, "table": "lineitem", "storage": "double",
                "axes": [reg("x", 0.0, 50.0, 50)],
                "fills": ["l_quantity", "tax500"]}
    if kind == "arith":
        return {"kind": kind, "table": "lineitem", "storage": "weight",
                "axes": [reg("l_quantity", 0.0, 50.0, 50)],
                "weight": "disc_w", "flags": ["A", "R"],
                "scale": float(r.choice([2.5, 0.5]))}
    if kind == "events":
        return {"kind": kind, "table": "events", "storage": "int64",
                "axes": [("regular", "day", 30, 0.0, 30.0),
                         reg("value", 0.0, 100.0, 20)]}
    raise ValueError(f"unknown request kind {kind!r}")


def request_pool(seed: int) -> list:
    """One request of each kind, in ``KINDS`` order, with seeded
    values.  The stream cycles through the pool, so every run mixes
    the kinds alike whatever the seed, and the warm-up (one pass) has
    compiled every plan the timed phase sends."""
    r = np.random.default_rng([int(seed), 10])
    return [make_request(k, r) for k in KINDS]


def rows_scanned(req: dict, table_rows: dict) -> int:
    n = table_rows[req["table"]]
    return n * len(req.get("fills") or req.get("flags") or [None])


# ---------------------------------------------------------------------------
# library side
# ---------------------------------------------------------------------------

def _axis(dhs, a):
    if a[0] == "regular":
        return dhs.Regular(a[2], a[3], a[4])
    if a[0] == "variable":
        return dhs.Variable(a[2])
    if a[0] == "strcat":
        return dhs.StrCategory(growth=True)
    raise ValueError(a[0])


def build(dhs, F, df, req: dict):
    """Build the request's histogram through the public API; returns an
    object with ``to_numpy``/``values``.  No Spark job runs here."""
    axes = tuple(_axis(dhs, a) for a in req["axes"])
    storage = dhs.Storage(req["storage"])
    w = _col(F, req["weight"]) if "weight" in req else None
    s = _col(F, req["sample"]) if "sample" in req else None
    kind = req["kind"]
    if kind == "regular":
        ax = axes[0]
        return dhs.histogram(df, req["axes"][0][1], bins=ax.n,
                             range=(ax.lo, ax.hi))
    if kind == "hist2d":
        a, b = axes
        return dhs.histogram2d(df, req["axes"][0][1], req["axes"][1][1],
                               bins=[a.n, b.n],
                               range=[(a.lo, a.hi), (b.lo, b.hi)],
                               weights=w)
    if kind == "multifill":
        h = dhs.Histogram(*axes, storage=storage)
        for c in req["fills"]:
            h.fill(df, _col(F, c))
        return h
    spec = dhs.HistogramSpec(axes=axes, storage=storage)
    cols = [_col(F, a[1]) for a in req["axes"]]
    if kind == "arith":
        ha, hb = (dhs.AggHistogram(
            dhs.fill(df.where(F.col("l_returnflag") == f), cols, spec,
                     weight=w), spec) for f in req["flags"])
        return (ha + hb) * req["scale"]
    return dhs.AggHistogram(dhs.fill(df, cols, spec, weight=w, sample=s),
                            spec)


# ---------------------------------------------------------------------------
# numpy reference
# ---------------------------------------------------------------------------

def _bin(a, x: np.ndarray) -> np.ndarray:
    """Bin index per row; -1 = underflow, n = overflow."""
    if a[0] == "regular":
        n, lo, hi = a[2], float(a[3]), float(a[4])
        idx = np.floor((x - lo) * (n / (hi - lo))).astype(np.int64)
        idx = np.minimum(idx, n - 1)
        idx[x < lo] = -1
        idx[(x >= hi) | np.isnan(x)] = n
        return idx
    e = np.asarray(a[2], np.float64)
    idx = np.searchsorted(e, x, side="right").astype(np.int64) - 1
    idx[x < e[0]] = -1
    idx[(x >= e[-1]) | np.isnan(x)] = len(e) - 1
    return idx


def _dense(req: dict, t: dict, cols: list, w, s):
    """Dense in-range accumulators over rows ``t`` for one fill."""
    idx, shape, cats = [], [], []
    for a, c in zip(req["axes"], cols):
        x = _np_col(t, c)
        if a[0] == "strcat":
            cv = sorted(set(x.tolist()))
            cats.append(cv)
            idx.append(np.searchsorted(np.array(cv), x))
            shape.append(len(cv))
        else:
            cats.append(None)
            idx.append(_bin(a, np.asarray(x, np.float64)))
            shape.append(len(a[2]) - 1 if a[0] == "variable" else a[2])
    keep = np.ones(len(idx[0]), bool)
    for i, n in zip(idx, shape):
        keep &= (i >= 0) & (i < n)
    flat = np.ravel_multi_index([i[keep] for i in idx], shape)
    size = int(np.prod(shape))

    def acc(v):
        v = np.broadcast_to(np.asarray(v, np.float64), keep.shape)[keep]
        return np.bincount(flat, weights=v, minlength=size).reshape(shape)

    one = np.ones(len(keep))
    w = one if w is None else w
    st = req["storage"]
    if st in ("double", "int64", "weight"):
        return {"value": acc(w)}, cats
    if st == "mean":
        return {"count": acc(one), "sum_s": acc(s)}, cats
    return {"sum_w": acc(w), "sum_w2": acc(w * w), "sum_ws": acc(w * s)}, cats


def reference(req: dict, tables: dict) -> dict:
    """Expected ``counts`` (what ``to_numpy`` returns), ``values`` (for
    the mean storages) and the growth ``categories`` per axis."""
    t = tables[req["table"]]
    w = _np_col(t, req["weight"]) if "weight" in req else None
    s = _np_col(t, req["sample"]) if "sample" in req else None
    cols = [a[1] for a in req["axes"]]
    if req["kind"] == "multifill":
        parts = [_dense(req, t, [c], None, None)[0]["value"]
                 for c in req["fills"]]
        return {"counts": sum(parts), "values": None, "cats": [None]}
    if req["kind"] == "arith":
        total = 0.0
        for f in req["flags"]:
            m = t["l_returnflag"] == f
            sub = {k: v[m] for k, v in t.items()}
            total = total + _dense(req, sub, cols, w[m], None)[0]["value"]
        return {"counts": total * req["scale"], "values": None,
                "cats": [None]}
    a, cats = _dense(req, t, cols, w, s)
    st = req["storage"]
    with np.errstate(invalid="ignore", divide="ignore"):
        if st == "mean":
            return {"counts": a["count"], "cats": cats,
                    "values": np.where(a["count"] > 0,
                                       a["sum_s"] / a["count"], 0.0)}
        if st == "weighted_mean":
            return {"counts": np.where(a["sum_w2"] > 0,
                                       a["sum_w"] ** 2 / a["sum_w2"], 0.0),
                    "values": np.where(a["sum_w"] > 0,
                                       a["sum_ws"] / a["sum_w"], 0.0),
                    "cats": cats}
    return {"counts": a["value"], "values": None, "cats": cats}


def matches(got_counts, got_values, got_cats, ref: dict) -> bool:
    """Exact shape and categories; values within 1e-9 relative (Spark
    sums floating weights in another order than numpy)."""
    def close(x, y):
        x, y = np.asarray(x, np.float64), np.asarray(y, np.float64)
        return x.shape == y.shape and np.allclose(x, y, rtol=1e-9, atol=1e-6)

    if not close(got_counts, ref["counts"]):
        return False
    if ref["values"] is not None and not close(got_values, ref["values"]):
        return False
    return all(rc is None or list(gc) == rc
               for gc, rc in zip(got_cats, ref["cats"]))
