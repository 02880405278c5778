"""Report-tree comparison for the codstats output check.

Two report trees (directories of JSON-lines reports, some partitioned as
key=value subdirectories) are equal when every report holds the same
multiset of rows. Floats compare with a relative tolerance of 1e-9: the
streaming store and a batch rebuild sum the same values in different
orders, which moves the last bits of a double.
"""
import glob
import json
import math
import os


def load(report_dir):
    """Rows of one report, partition columns folded back in."""
    rows = []
    for f in sorted(glob.glob(os.path.join(report_dir, "**", "*.json"),
                          recursive=True)):
        rel = os.path.relpath(f, report_dir).split(os.sep)[:-1]
        parts = dict(p.split("=", 1) for p in rel if "=" in p)
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    rows.append({**json.loads(line), **parts})
    return rows


def _split(v, exact, floats):
    """Route a row's leaves: floats to `floats`, everything else to `exact`."""
    if isinstance(v, float):
        floats.append(v)
        exact.append("<f>")
    elif isinstance(v, dict):
        for k in sorted(v):
            exact.append(k)
            _split(v[k], exact, floats)
    elif isinstance(v, list):
        exact.append(len(v))
        for x in v:
            _split(x, exact, floats)
    else:
        exact.append(v)


def _key(row):
    exact, floats = [], []
    _split(row, exact, floats)
    return json.dumps(exact), floats


def same_rows(a, b):
    """None when the row multisets match, else a short description."""
    if len(a) != len(b):
        return f"{len(a)} rows vs {len(b)}"
    ka = sorted(map(_key, a))
    kb = sorted(map(_key, b))
    for (ea, fa), (eb, fb) in zip(ka, kb):
        if ea != eb:
            return f"row differs: {ea[:160]} vs {eb[:160]}"
        for x, y in zip(fa, fb):
            if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                return f"value {x} vs {y} in {ea[:160]}"
    return None


def compare_trees(run_tree, rebuild_tree, reports):
    """{report: difference or None} for each named report directory."""
    return {r: same_rows(load(os.path.join(run_tree, r)),
                         load(os.path.join(rebuild_tree, r)))
            for r in reports}
