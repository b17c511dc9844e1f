"""Output checks, run after each timed pass and outside its timing.

Every comparison is exact: token arrays per ``doc_id`` against the
sequential-apply oracle, each view against its recompute from the final
main table, the relay consumer against the source's ``read()``, and every
staged lookup against the oracle state at the round it ran in."""

from __future__ import annotations

import hashlib

DIM_ROWS = [("web", "crawl"), ("books", "curated"), ("code", "curated"),
            ("wiki", "curated"), ("forums", "crawl")]


def _rows(df, cols: list[str]) -> dict[str, dict]:
    out = {}
    for r in df.collect():
        d = r.asDict()
        row = {c: d.get(c) for c in cols}
        if isinstance(row.get("tokens"), list):
            row["tokens"] = tuple(row["tokens"])
        out[d["doc_id"]] = row
    return out


def _diff(actual: dict, expected: dict, cols: list[str], what: str) -> list[str]:
    errs = []
    if set(actual) != set(expected):
        extra = sorted(set(actual) - set(expected))[:3]
        missing = sorted(set(expected) - set(actual))[:3]
        errs.append(f"{what}: key sets differ, extra={extra} missing={missing}")
    for k in sorted(set(actual) & set(expected)):
        for c in cols:
            if actual[k].get(c) != expected[k].get(c):
                errs.append(f"{what}: {k}.{c} {actual[k].get(c)!r} != "
                            f"{expected[k].get(c)!r}")
                break
        if len(errs) > 3:
            break
    return errs


def main_table(table, oracle: dict) -> tuple[list[str], dict]:
    """Final sink vs the oracle; also returns the sink's rows."""
    cols = oracle["cols"]
    if table.logical_columns() != cols:
        return [f"columns {table.logical_columns()} != {cols}"], {}
    actual = _rows(table.read(), cols)
    return _diff(actual, oracle["state"], cols, "sink"), actual


def _fp(tokens) -> str | None:
    if tokens is None:
        return None
    return hashlib.md5(("[" + ",".join(map(str, tokens)) + "]").encode()
                       ).hexdigest()


def fingerprint_view(view, main_rows: dict) -> list[str]:
    cols = ["doc_id", "fp_md5", "n_tok", "source"]
    expected = {k: {"doc_id": k, "fp_md5": _fp(r["tokens"]),
                    "n_tok": r["n_tok"], "source": r["source"]}
                for k, r in main_rows.items()}
    return _diff(_rows(view.read(), cols), expected, cols, "fingerprint view")


def joined_view(view, main_rows: dict) -> list[str]:
    cols = ["doc_id", "n_tok", "source", "src_kind"]
    kind = dict(DIM_ROWS)
    expected = {k: {"doc_id": k, "n_tok": r["n_tok"], "source": r["source"],
                    "src_kind": kind.get(r["source"])}
                for k, r in main_rows.items()}
    return _diff(_rows(view.read(), cols), expected, cols, "joined view")


def relay_consumer(dst, src) -> list[str]:
    cols = src.logical_columns()
    if dst.logical_columns() != cols:
        return [f"relay columns {dst.logical_columns()} != {cols}"]
    return _diff(_rows(dst.read(), cols), _rows(src.read(), cols), cols,
                 "relay consumer")


def lookup(rows: list, expected: dict, cols: list[str]) -> list[str]:
    actual = {}
    for r in rows:
        d = r.asDict()
        d["tokens"] = tuple(d["tokens"]) if d.get("tokens") is not None else None
        actual[d["doc_id"]] = d
    return _diff(actual, expected, cols, "lookup")
