"""Generate QUERIES.md — the auto-generated registry index.

One row per registered query, in the registry's canonical order
(``registry.load_all()``): position, owning module, oracle status,
and the first docstring line. Regenerate after adding queries:
`python scripts/dump_registry.py`.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from matrix_multiplication_map_reduce_gcp_spark import registry  # noqa: E402


def first_doc_line(fn) -> str:
    doc = (fn.__doc__ or "").strip()
    line = doc.splitlines()[0].strip() if doc else ""
    # Docstrings can't be f-strings (an f-string first statement isn't
    # stored as __doc__), so operator docstrings reference tuning
    # constants as {NAME} placeholders; resolve them from the defining
    # module's globals so generated summaries show actual values
    # instead of literal braces (r5 ADVICE).
    mod = sys.modules.get(fn.__module__)
    mod_globals = vars(mod) if mod else {}

    def sub(m: re.Match) -> str:
        v = mod_globals.get(m.group(1))
        return str(v) if isinstance(v, (int, float, str)) else m.group(0)

    line = re.sub(r"\{([A-Z_][A-Z0-9_]*)\}", sub, line)
    return line.replace("|", "\\|")


def main() -> None:
    q = registry.load_all()
    names = list(q)
    rows = []
    for pos, name in enumerate(names, start=1):
        qd = q[name]
        mod = qd.fn.__module__.removeprefix("matrix_multiplication_map_reduce_gcp_spark.")
        oracle = "oracle" if qd.oracle else "rows-only"
        rows.append(
            f"| {pos} | `{name}` | {mod} | {oracle} | "
            f"{first_doc_line(qd.fn)} |"
        )
    n_oracle = sum(1 for qd in q.values() if qd.oracle)
    out = [
        "# QUERIES — registry index (generated by scripts/dump_registry.py)",
        "",
        f"{len(names)} registered queries, {n_oracle} with DuckDB oracles.",
        "Every oracle-checked query is verified by the local oracle-replica "
        "suite (`tests/test_registry_oracle.py`) at sf0.01.",
        "",
        "| # | query | module | check | summary |",
        "|---|---|---|---|---|",
        *rows,
        "",
    ]
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "QUERIES.md"
    )
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote QUERIES.md ({len(rows)} rows)")


if __name__ == "__main__":
    main()
