"""Degenerate-docs fixture: the driver testdata sampled down plus the
document shapes a real corpus contains but the synthetic fixture never
ships — empty text, one- and two-word docs, a language slice with no
[a-z]+ words. Built once under .cache/degenerate/ from sf0.001 with
catalog.cached_dir (atomic publish; source (mtime, size) in the
fingerprint so a testdata drop rebuilds it).

Used by tools/degenerate_sweep.py (all-query smoke) and
tests/test_degenerate_docs.py (the regression subset). The sweep's
contract is "no query THROWS on these inputs" — ANSI mode (Spark 4
default) turns silent Spark-3 NULLs into INVALID_ARRAY_INDEX /
DIVIDE_BY_ZERO errors, which is how the r11 sweep caught four latent
crashes.
"""

from __future__ import annotations

import os

from datafusion_tpc_spark.catalog import CACHE_ROOT, cached_dir, fingerprint

_SRC = "/root/testdata/sf0.001"

_LIMITS = {
    "region": None,
    "nation": None,
    "supplier": None,
    "customer": 20,
    "part": 30,
    "orders": 60,
    "lineitem": 150,
    "events": 400,
    "embeddings": 48,
}

# (doc_id, text, lang, source, n_chars) — the degenerate shapes.
# lang 'xx' holds ONLY the empty doc, so per-language rollups see a
# slice with zero words/sentences/chars. The 20- and 31-char docs sit
# in the [L-S+1, L-1] = 17-31 band where the strided span-window
# generators (dedup._WIN_EXPR vs _WINS_DUCK) actually diverged in r11
# (ADVICE: DuckDB // truncates toward zero, emitting one short window
# Spark never emits) — lengths 0/4/9/13 could not catch it.
_DEGENERATE_DOCS = [
    (999001, "solo", "en", "tiny", 4),
    (999002, "two words", "en", "tiny", 9),
    (999003, "", "xx", "tiny", 0),
    (999004, "a b c d e f g", "de", "tiny", 13),
    (999005, "twenty characters ok", "en", "tiny", 20),
    (999006, "thirty one characters exactly x", "en", "tiny", 31),
]


def _fingerprint() -> str:
    # Keyed on the SOURCE files AND the fixture definition (review
    # r11): fingerprinting only the sources would silently serve a
    # stale cached fixture after an edit to _DEGENERATE_DOCS/_LIMITS —
    # the new shape never enters the fixture and the sweep "passes".
    parts = [repr(_LIMITS), repr(_DEGENERATE_DOCS)]
    for t in list(_LIMITS) + ["documents"]:
        st = os.stat(f"{_SRC}/{t}.parquet")
        parts.append(f"{t}:{st.st_mtime_ns}:{st.st_size}")
    return fingerprint("|".join(parts))


def ensure_degenerate_fixture() -> str:
    """Build (once) and return the fixture directory path."""
    return cached_dir(
        os.path.join(CACHE_ROOT, "degenerate"), _fingerprint(), _build, marker="_OK"
    )


def _build(tmp: str) -> None:
    import duckdb

    con = duckdb.connect()
    for t, n in _LIMITS.items():
        lim = f"LIMIT {n}" if n else ""
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{_SRC}/{t}.parquet') {lim})"
            f" TO '{tmp}/{t}.parquet' (FORMAT PARQUET)"
        )
    vals = ", ".join(
        f"({i}, '{t}', '{lg}', '{src}', {n})"
        for i, t, lg, src, n in _DEGENERATE_DOCS
    )
    con.execute(
        f"""
        COPY (
          SELECT * FROM
            (SELECT * FROM read_parquet('{_SRC}/documents.parquet') LIMIT 8)
          UNION ALL
          SELECT * FROM (VALUES {vals}) v(doc_id, text, lang, source, n_chars)
        ) TO '{tmp}/documents.parquet' (FORMAT PARQUET)
        """
    )
    con.close()
    open(os.path.join(tmp, "_OK"), "w").close()
