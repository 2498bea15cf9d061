"""Generate COVERAGE.md — one row per registered query: registry
position, driver-window membership, oracle presence, which round's
driver correctness file certified it, and the implementing call chain
(scraped from the q_ wrapper source).

Usage: python tools/coverage_report.py > COVERAGE.md
"""

from __future__ import annotations

import inspect
import json
import pathlib
import re
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> None:
    from data_pipeline_example_spark.plans.oracles import ORACLES
    from data_pipeline_example_spark.plans.queries import QUERIES

    certified: dict[str, str] = {}
    for rnd in sorted(REPO.glob("CORRECTNESS_r*.json")):
        label = rnd.stem.split("_r")[-1].lstrip("0") or "0"
        data = json.loads(rnd.read_text())
        for name, row in data.items():
            if row.get("hash_match"):
                certified[name] = f"r{label} hash"
            elif row.get("rows_match") and name not in certified:
                certified[name] = f"r{label} rows"

    print("# Query coverage index\n")
    print(
        "Generated by `tools/coverage_report.py`. One row per `queries()`\n"
        "entry: position in the registry, whether it sits inside the\n"
        "driver's 50-entry correctness window this round, oracle presence\n"
        "(`sql` = DuckDB hash-compared twin, `rows` = rows-only by design),\n"
        "the latest driver certification, and the operator call the query\n"
        "wraps (file:line of the underlying implementation).\n"
    )
    print("| # | query | window | oracle | driver-certified | implementation |")
    print("|---|---|---|---|---|---|")
    for i, (name, fn) in enumerate(QUERIES.items(), start=1):
        src = inspect.getsource(fn)
        m = re.search(r"return\s+([\w.]+)\(", src)
        impl = "—"
        if m:
            target = m.group(1)
            impl = f"`{target}`"
            # resolve file:line of the implementing callable when possible
            parts = target.split(".")
            try:
                obj = fn.__globals__[parts[0]]
                for p in parts[1:]:
                    obj = getattr(obj, p)
                f = inspect.getsourcefile(obj)
                ln = inspect.getsourcelines(obj)[1]
                rel = pathlib.Path(f).relative_to(REPO)
                impl = f"`{target}` ({rel}:{ln})"
            except Exception:
                pass
        window = "yes" if i <= 50 else ""
        oracle = "sql" if name in ORACLES else "rows"
        cert = certified.get(name, "pending")
        print(f"| {i} | {name} | {window} | {oracle} | {cert} | {impl} |")


if __name__ == "__main__":
    main()
