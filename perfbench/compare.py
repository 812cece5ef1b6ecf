#!/usr/bin/env python3
"""Compare two benchmark records metric by metric.

    python3 perfbench/compare.py BASE.json NEW.json

Records come from perfbench/records/. Records of different workloads, core
counts or scales are refused: a 4-core figure says nothing about a
32-core one.
"""
import json
import sys


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    base, new = (json.load(open(p)) for p in sys.argv[1:])
    for key in ("workload", "cores", "scale"):
        if base[key] != new[key]:
            sys.exit(f"refused: {key} differs ({base[key]} vs {new[key]})")
    print(f"{base['workload']} on {base['cores']} cores, {base['scale']}; "
          f"seeds {base['seed']} vs {new['seed']}")
    rows = [(n, m["value"], new["metrics"].get(n, {}).get("value"), m["unit"])
            for n, m in base["metrics"].items()]
    rows += [(n, v, new["layers"].get(n), "") for n, v in base["layers"].items()]
    for name, a, b, unit in rows:
        if b is None:
            print(f"{name:34s} {a:12.4f} {'-':>12s} {unit}")
        else:
            change = f"{(b - a) / a:+.1%}" if a else ""
            print(f"{name:34s} {a:12.4f} {b:12.4f} {unit:6s} {change}")


if __name__ == "__main__":
    main()
