"""DuckDB oracle forms: the fixture closed forms, and every other form
that more than one query module states.

Each form here is written once; every oracle that states it references
it, so a fixture or tokenizer change cannot desynchronize one copy from
another. Any other form used by several oracles of a single query
module stays a constant of that module.

CTE forms are ``name AS (...)`` lists with no leading ``WITH`` and no
trailing comma: the caller writes ``WITH {FORM}, next AS (...)``. The
fixture forms (FIXTURES.md F9-F11) build from the generator constants
in ``multimodal/__init__.py``; the Python generators there state the
same formulas independently, and the oracles are checked against them.
Query thresholds (``DHASH_T``, ``_JACCARD_T``) stay at the call site.

This module imports constants only — never ``queries/*`` — so any
query module can import it. ``tests/test_oracle_parity.py::
test_oracle_text_is_pinned`` pins the registered oracle text.
"""

from __future__ import annotations

from mapreduce511_spark.multimodal import (
    AFP_CLASS,
    AFP_MIX,
    AFP_WIN_LEN,
    AFP_WINDOWS,
    DHASH_CLASS,
    DHASH_MIX,
    JPEG_GRID_HB_MOD,
    JPEG_GRID_WB_MOD,
    JPEG_PX_A,
    JPEG_PX_BX,
    JPEG_PX_BY,
    SYNTH_DOC_LIMIT,
    VID_CLASS,
    VID_DOC_LIMIT,
    VID_FOREIGN,
    VID_FRAMES,
    VID_KEY_STRIDE,
)

# ---- text ----

# whitespace tokenizer; must match functions.text.tokenize
_SQL_TOKENS = "list_filter(string_split_regex(text, '\\s+'), t -> t <> '')"

# token positions: toks(doc_id, tokens) -> pos(doc_id, w, p)
_SQL_TOKEN_POS = f"""
    toks AS (
        SELECT doc_id, {_SQL_TOKENS} AS tokens FROM documents
    ), pos AS (
        SELECT doc_id, unnest(tokens) AS w, unnest(range(len(tokens))) AS p
        FROM toks
    )"""

# distinct word-trigram shingles per doc: shingles(doc_id, sh)
# (exact twin of operators/dedup.py::doc_shingles)
_SQL_SHINGLES = f"""{_SQL_TOKEN_POS}, shingles AS (
        SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
        FROM pos a
        JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
        JOIN pos c ON a.doc_id = c.doc_id AND c.p = a.p + 2
    )"""

# shingle-set Jaccard of a pair from inter i (both) and sizes sa/sb (sz)
_SQL_JACCARD = "i.both * 1.0 / (sa.sz + sb.sz - i.both)"

# ---- events ----

# 1-hour tumbling counts per event type (batch and streaming twins)
TUMBLING_HOUR_ORACLE = """
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*)               AS n_events,
           round(sum(value), 2)   AS total_value
    FROM events
    GROUP BY window_start, event_type
    """

# ---- F9: synthesized image corpora ----

# decoded-image census of px(doc_id, w, h, v), one row per image
IMAGE_PX_STATS = """
    SELECT doc_id, 'image' AS kind, w AS width, h AS height,
           COUNT(*) AS n_vals,
           CAST(SUM(v) AS BIGINT) AS sum_val,
           CAST(MIN(v) AS BIGINT) AS min_val,
           CAST(MAX(v) AS BIGINT) AS max_val,
           CAST(SUM(v // 16 + 1) AS BIGINT) AS hist_sum
    FROM px GROUP BY doc_id, w, h"""

# PNG fixture (synth_png_media): per-doc pixel statistics of
# v(i) = (doc_id*17 + i*11) % 256 over a w x h RGB grid
PNG_STATS_ORACLE = f"""
    WITH img AS (
        SELECT doc_id,
               CAST(6 + doc_id % 11 AS INT) AS w,
               CAST(6 + (doc_id * 5) % 7 AS INT) AS h
        FROM documents WHERE doc_id < {SYNTH_DOC_LIMIT}
    ), idx AS (
        SELECT doc_id, w, h,
               unnest(generate_series(0, CAST(w * h * 3 - 1 AS BIGINT))) AS i
        FROM img
    ), px AS (
        SELECT doc_id, w, h, (doc_id * 17 + i * 11) % 256 AS v FROM idx
    )
    {IMAGE_PX_STATS}
    """

# JPEG fixture (multimodal._jpeg_block_grid): img -> blk -> px(doc_id,
# wb, hb, p), one row per constant block, p = the lossy DC round trip
# clamp(2*floor((v-128)/2 + 0.5) + 128) of the block value v
JPEG_BLOCK_PX = f"""
    img AS (
        SELECT doc_id,
               CAST(1 + doc_id % {JPEG_GRID_WB_MOD} AS INT) AS wb,
               CAST(1 + (doc_id * 5) % {JPEG_GRID_HB_MOD} AS INT) AS hb
        FROM documents WHERE doc_id < {SYNTH_DOC_LIMIT}
    ), blk AS (
        SELECT doc_id, wb, hb,
               unnest(generate_series(0, CAST(wb * hb - 1 AS BIGINT))) AS bi
        FROM img
    ), px AS (
        SELECT doc_id, wb, hb,
               least(255, greatest(0,
                 2 * CAST(floor(((doc_id * {JPEG_PX_A} + (bi % wb) * {JPEG_PX_BX}
                                  + (bi // wb) * {JPEG_PX_BY}) % 256 - 128) / 2.0
                                + 0.5) AS BIGINT) + 128)) AS p
        FROM blk
    )"""

# the 64 gradient bits(cy, cx, bit) of a 9x8 cell grid packed into two
# non-negative 32-bit halves h_lo (rows 0-3) and h_hi (rows 4-7)
_DHASH_PACK = """CAST(sum(CASE WHEN cy < 4
                    THEN bit * (CAST(1 AS BIGINT) << (cy * 8 + cx))
                    ELSE 0 END) AS BIGINT) AS h_lo,
               CAST(sum(CASE WHEN cy >= 4
                    THEN bit * (CAST(1 AS BIGINT) << ((cy - 4) * 8 + cx))
                    ELSE 0 END) AS BIGINT) AS h_hi"""


def dhash_ctes(p: str = "", limit: int = SYNTH_DOC_LIMIT) -> str:
    """dHash fixture (``multimodal._dhash_cells``) for docs below
    ``limit``: ``{p}img -> {p}grid -> {p}cells -> {p}bits ->
    {p}h(doc_id, h_lo, h_hi)``, the 64-bit gradient-sign hash of each
    image's 9x8 cell grid."""
    return f"""
    {p}img AS (
        SELECT doc_id, doc_id // {DHASH_CLASS} AS base,
               doc_id % {DHASH_CLASS} AS v
        FROM documents WHERE doc_id < {limit}
    ), {p}grid AS (
        SELECT doc_id, base, v, cx.g AS cx, cy.g AS cy
        FROM {p}img,
             (SELECT unnest(generate_series(0, 8)) AS g) cx,
             (SELECT unnest(generate_series(0, 7)) AS g) cy
    ), {p}cells AS (
        SELECT doc_id, cx, cy,
               CASE WHEN v > 0 AND cx = v AND cy < v
                    THEN (((base + 1) * (cx + 9 * cy + 1) * {DHASH_MIX}
                           + base * (cx * cx + 3 * cy * cy)) % 256 + 128)
                         % 256
                    ELSE ((base + 1) * (cx + 9 * cy + 1) * {DHASH_MIX}
                          + base * (cx * cx + 3 * cy * cy)) % 256
               END AS c
        FROM {p}grid
    ), {p}bits AS (
        SELECT a.doc_id, a.cy, a.cx,
               CASE WHEN b.c > a.c THEN 1 ELSE 0 END AS bit
        FROM {p}cells a JOIN {p}cells b
          ON a.doc_id = b.doc_id AND a.cy = b.cy AND b.cx = a.cx + 1
        WHERE a.cx < 8
    ), {p}h AS (
        SELECT doc_id,
               {_DHASH_PACK}
        FROM {p}bits GROUP BY doc_id
    )"""


# ---- F10: audio fingerprint corpus ----


def afp_ctes(p: str = "", limit: int = SYNTH_DOC_LIMIT) -> str:
    """Audio fingerprint fixture (``multimodal._afp_amplitudes``) for
    docs below ``limit``: ``{p}aud -> {p}win -> {p}amp -> {p}bits ->
    {p}h(doc_id, h_lo, h_hi)``, the gain-invariant gradient-sign hash
    of each clip's 65 window energies."""
    return f"""
    {p}aud AS (
        SELECT doc_id, doc_id // {AFP_CLASS} AS base,
               doc_id % {AFP_CLASS} AS v
        FROM documents WHERE doc_id < {limit}
    ), {p}win AS (
        SELECT doc_id, base, v, ws.g AS w
        FROM {p}aud, (SELECT unnest(generate_series(0, {AFP_WINDOWS - 1})) AS g) ws
    ), {p}amp AS (
        SELECT doc_id, w,
               CASE WHEN (v = 2 AND w IN (2, 19))
                      OR (v = 3 AND w IN (3, 20, 37))
                    THEN (((base + 1) * (w + 1) * {AFP_MIX}
                           + base * w * w) % 256 + 128) % 256
                    ELSE ((base + 1) * (w + 1) * {AFP_MIX}
                          + base * w * w) % 256
               END
               * (CASE v WHEN 1 THEN 3 WHEN 3 THEN 2 ELSE 1 END)
               * {AFP_WIN_LEN - 1} AS e
        FROM {p}win
    ), {p}bits AS (
        SELECT x.doc_id, x.w AS b,
               CASE WHEN y.e > x.e THEN 1 ELSE 0 END AS bit
        FROM {p}amp x JOIN {p}amp y
          ON x.doc_id = y.doc_id AND y.w = x.w + 1
        WHERE x.w < 64
    ), {p}h AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN b < 32
                    THEN bit * (CAST(1 AS BIGINT) << b)
                    ELSE 0 END) AS BIGINT) AS h_lo,
               CAST(sum(CASE WHEN b >= 32
                    THEN bit * (CAST(1 AS BIGINT) << (b - 32))
                    ELSE 0 END) AS BIGINT) AS h_hi
        FROM {p}bits GROUP BY doc_id
    )"""


# ---- F11: video corpus ----


def video_ctes(p: str = "") -> str:
    """Video fixture (``multimodal._vid_frame_keys`` / ``_vid_cells``):
    ``{p}vid -> {p}fk(doc_id, key)`` is the variant plan (re-encode /
    trim / trim + foreign splice), then ``{p}keys -> {p}grid ->
    {p}cells -> {p}bits -> {p}fh(key, h_lo, h_hi)`` dHashes each
    distinct frame key."""
    return f"""
    {p}vid AS (
        SELECT doc_id, doc_id // {VID_CLASS} AS base,
               doc_id % {VID_CLASS} AS v
        FROM documents WHERE doc_id < {VID_DOC_LIMIT}
    ), {p}fk AS (
        SELECT doc_id, base * {VID_KEY_STRIDE} + os.o AS key
        FROM {p}vid, (SELECT unnest(generate_series(0, {VID_FRAMES - 1})) AS o) os
        WHERE v IN (0, 1) OR os.o >= 1
        UNION ALL
        SELECT doc_id, base * {VID_KEY_STRIDE} + {VID_FOREIGN}
        FROM {p}vid WHERE v = 3
    ), {p}keys AS (
        SELECT DISTINCT key FROM {p}fk
    ), {p}grid AS (
        SELECT key, cx.g AS cx, cy.g AS cy
        FROM {p}keys,
             (SELECT unnest(generate_series(0, 8)) AS g) cx,
             (SELECT unnest(generate_series(0, 7)) AS g) cy
    ), {p}cells AS (
        SELECT key, cx, cy,
               ((key + 1) * (cx + 9 * cy + 1) * {DHASH_MIX}
                + key * (cx * cx + 3 * cy * cy)) % 256 AS c
        FROM {p}grid
    ), {p}bits AS (
        SELECT a.key, a.cy, a.cx,
               CASE WHEN b.c > a.c THEN 1 ELSE 0 END AS bit
        FROM {p}cells a JOIN {p}cells b
          ON a.key = b.key AND a.cy = b.cy AND b.cx = a.cx + 1
        WHERE a.cx < 8
    ), {p}fh AS (
        SELECT key,
               {_DHASH_PACK}
        FROM {p}bits GROUP BY key
    )"""
