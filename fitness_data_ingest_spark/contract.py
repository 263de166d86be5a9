"""Driver-contract surface table (verdict r6 item 6).

Generates, from the registry itself plus the recorded
``CORRECTNESS_r*.json`` history, the one-table audit view of the driver
contract: every registered key with its source module, family tag,
oracle type (DuckDB hash vs rows-only) and the first round whose driver
window verified it. The rendered markdown is checked into ``README.md``
between the ``CONTRACT-TABLE`` markers and pytest-pinned against this
generator, so the table can never drift from ``registry.all_queries()``.

Regenerate in place:  ``python -m fitness_data_ingest_spark.contract``
"""

from __future__ import annotations

import glob
import json
import os
import re

BEGIN = "<!-- CONTRACT-TABLE:BEGIN (generated: python -m fitness_data_ingest_spark.contract) -->"
END = "<!-- CONTRACT-TABLE:END -->"


def _family_dicts() -> list[tuple[str, dict]]:
    from . import registry as R

    return list(R.FAMILIES)


def _first_green_rounds() -> dict[str, int]:
    """key -> earliest round with a fully-green (rows+schema+hash)
    driver verdict."""
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    first: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as f:
                data = json.load(f)
        except Exception:
            continue
        if not isinstance(data, dict):
            continue
        for key, row in data.items():
            if isinstance(row, dict) and all(
                row.get(c) for c in ("rows_match", "schema_match", "hash_match")
            ):
                # NOT setdefault: earliest-round selection must not
                # depend on glob() lexicographic order matching numeric
                # order (it only does while filenames stay zero-padded)
                first[key] = min(first.get(key, rnd), rnd)
    return first


def contract_rows() -> list[dict[str, str]]:
    """One dict per registry key, alphabetical by key."""
    from . import registry as R

    module_of: dict[str, str] = {}
    for mod, fam in _family_dicts():
        for key in fam:
            module_of.setdefault(key, mod)

    green = _first_green_rounds()
    rows = []
    aq = R.all_queries()
    # alphabetical, independent of family registration order
    for key in sorted(aq):
        q = aq[key]
        tags = getattr(q, "tags", ()) or ()
        rows.append(
            {
                "key": key,
                "module": module_of.get(key, "?"),
                "family": tags[0] if tags else module_of.get(key, "?"),
                "oracle": "hash" if q.sql is not None else "rows-only",
                "verified": (
                    f"r{green[key]:02d}"
                    if key in green
                    else ("— (by design)" if q.sql is None else "queued")
                ),
            }
        )
    return rows


def render_markdown() -> str:
    rows = contract_rows()
    n_hash = sum(1 for r in rows if r["oracle"] == "hash")
    n_green = sum(1 for r in rows if r["verified"].startswith("r"))
    lines = [
        BEGIN,
        "",
        f"{len(rows)} registered keys — {n_hash} DuckDB-hash-oracle-paired, "
        f"{len(rows) - n_hash} rows-only by design; {n_green} lifetime "
        "driver-green ('verified' = first round whose driver window "
        "hash-verified the key; 'queued' = oracle-paired, no recorded "
        "driver verdict yet). Rows are alphabetical by key.",
        "",
        "| # | key | module | family | oracle | verified |",
        "|---|-----|--------|--------|--------|----------|",
    ]
    for i, r in enumerate(rows, 1):
        lines.append(
            f"| {i} | `{r['key']}` | {r['module']} | {r['family']} "
            f"| {r['oracle']} | {r['verified']} |"
        )
    lines += ["", END]
    return "\n".join(lines)


def update_readme(readme_path: str | None = None) -> bool:
    """Rewrite the README block in place; returns True if it changed."""
    if readme_path is None:
        here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        readme_path = os.path.join(here, "README.md")
    with open(readme_path) as f:
        text = f.read()
    block = render_markdown()
    if BEGIN in text:
        new = re.sub(
            re.escape(BEGIN) + r".*?" + re.escape(END),
            lambda _m: block,
            text,
            flags=re.S,
        )
    else:
        new = text.rstrip() + "\n\n## Driver contract surface\n\n" + block + "\n"
    changed = new != text
    if changed:
        with open(readme_path, "w") as f:
            f.write(new)
    return changed


if __name__ == "__main__":
    print("updated" if update_readme() else "unchanged")
