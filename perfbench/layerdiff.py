"""Compare two benchmark detail files layer by layer.

    python3 perfbench/layerdiff.py BASE.json NEW.json

Reads the ``.perfbench_out/*.json`` records of two runs (usually the
traced runs of a parent and a change, same workload and seed) and prints
one row per metric, end-to-end metrics first: base value, new value,
difference, and the ratio written with its base (``1.25x of 8.0 s``), so
no ratio is read without knowing what it is a ratio of.
"""

from __future__ import annotations

import argparse
import json
from pathlib import Path


def _fmt(v: float) -> str:
    return f"{v:.6g}"


def diff_rows(base: dict, new: dict) -> list[dict]:
    """Rows for every metric present in either record's ``end_to_end``
    or ``per_layer`` block."""
    rows = []
    for block in ("end_to_end", "per_layer"):
        b, n = base.get(block, {}), new.get(block, {})
        for name in sorted(set(b) | set(n)):
            bv = b.get(name, {}).get("value")
            nv = n.get(name, {}).get("value")
            unit = (b.get(name) or n.get(name))["unit"]
            if bv is None or nv is None:
                ratio = "absent in " + ("base" if bv is None else "new")
            elif bv == 0:
                ratio = "n/a (base 0)" if nv else "1x of 0"
            else:
                ratio = f"{nv / bv:.3f}x of {_fmt(bv)} {unit}"
            rows.append({
                "block": block, "metric": name, "unit": unit,
                "base": bv, "new": nv,
                "delta": None if bv is None or nv is None else nv - bv,
                "ratio": ratio,
            })
    return rows


def render(rows: list[dict]) -> str:
    out = [f"{'metric':48s} {'unit':6s} {'base':>12s} {'new':>12s} "
           f"{'delta':>12s}  ratio"]
    for r in rows:
        cells = [
            "-" if r[k] is None else _fmt(r[k]) for k in ("base", "new", "delta")
        ]
        out.append(
            f"{r['metric']:48s} {r['unit']:6s} {cells[0]:>12s} "
            f"{cells[1]:>12s} {cells[2]:>12s}  {r['ratio']}"
        )
    return "\n".join(out)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base", type=Path)
    ap.add_argument("new", type=Path)
    args = ap.parse_args(argv)
    base = json.loads(args.base.read_text())
    new = json.loads(args.new.read_text())
    for label, rec in (("base", base), ("new", new)):
        env = rec.get("env", {})
        print(f"{label}: {env.get('workload')} seed={env.get('seed')} "
              f"trace={env.get('trace')} master={env.get('master')}")
    print(render(diff_rows(base, new)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
