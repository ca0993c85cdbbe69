"""DuckDB oracle-SQL builders for the driver correctness gate.

Each string here recomputes, in pure DuckDB SQL over the driver's
pre-registered ``documents`` view, exactly what the
corresponding Spark query in __spark_entry__.py computes — same layout
constants (sources/bridge.py), same portable hash stubs (operators/enrich),
same reference semantics (SURVEY §2.8). A hash-equal result from two
independent engines is the correctness evidence.
"""

from __future__ import annotations

from .config import DEMO_CONFIG, field_config_rows
from .functions import textsql as X
from .functions.portable import duck_hash64
from .operators.enrich import N_STUB_CLASSES, RUN_LEN
from .sources.bridge import LINES_PER_PAGE, WORDS_PER_LINE

WPP = WORDS_PER_LINE * LINES_PER_PAGE  # words per page


def _duck_stub_cls(url="url", page="page_num", word_pos="word_pos") -> str:
    key = (f"concat({url}, '#', cast({page} as varchar), '#', "
           f"cast({word_pos} // {RUN_LEN} as varchar))")
    return f"cast({X.h64(key, 'duck')} % {N_STUB_CLASSES} as int)"


def _duck_stub_conf(url="url", page="page_num", word_pos="word_pos") -> str:
    key = (f"concat('c', {url}, '#', cast({page} as varchar), '#', "
           f"cast({word_pos} as varchar))")
    return f"(0.5 + ({X.h64(key, 'duck')} % 500000) / 1000000.0)"


#: the bridge word relation: one row per word with page/line/pos + stub preds
WORDS_CTE = f"""
base AS (
  SELECT 'doc://' || doc_id AS url,
         {X.words('text', 'duck')} AS ws
  FROM documents
),
w0 AS (
  SELECT url, unnest(ws) AS text, generate_subscripts(ws, 1) AS g FROM base
),
w AS (
  SELECT url, text,
         cast(((g - 1) // {WPP}) + 1 AS int) AS page_num,
         cast(((g - 1) // {WORDS_PER_LINE}) % {LINES_PER_PAGE} AS int) AS line_id,
         cast((g - 1) % {WPP} AS int) AS word_pos
  FROM w0
),
we AS (
  SELECT *, {_duck_stub_cls()} AS pred_cls, {_duck_stub_conf()} AS pcc FROM w
)
"""


def _cfg_values() -> str:
    rows = [c for c in field_config_rows(DEMO_CONFIG) if not c["Ignore"]]
    vals = ", ".join(
        "({}, '{}', {}, {}, {})".format(
            c["ClassId"], c["Name"].replace("'", "''"),
            "NULL" if c["Optional"] is None else str(bool(c["Optional"])).lower(),
            "NULL" if c["Select"] is None else f"'{c['Select']}'",
            c["SortOrder"],
        )
        for c in rows
    )
    return (f"cfg AS (SELECT * FROM (VALUES {vals}) "
            f"AS t(class_id, name, optional, sel, sort_order))")


#: E1-E4 mention relation over the bridge words
MENTIONS_CTE = f"""
{WORDS_CTE},
{_cfg_values()},
normed AS (
  SELECT we.*, c.class_id AS cls_norm, c.name AS cls_name
  FROM we LEFT JOIN cfg c ON we.pred_cls = c.class_id
),
seq AS (
  SELECT *,
    row_number() OVER (PARTITION BY url ORDER BY page_num, word_pos) AS gpos,
    CASE WHEN cls_norm IS DISTINCT FROM
      lag(cls_norm) OVER (PARTITION BY url ORDER BY page_num, word_pos)
      THEN 1 ELSE 0 END AS chg
  FROM normed
),
runs AS (
  SELECT *, sum(chg) OVER
    (PARTITION BY url ORDER BY gpos ROWS UNBOUNDED PRECEDING) AS run_id
  FROM seq
),
runmax AS (
  SELECT *, max(run_id) OVER (PARTITION BY url) AS max_run FROM runs
),
rfp AS (
  SELECT url, run_id, min(page_num) AS first_page
  FROM runmax GROUP BY url, run_id
),
kept AS (
  SELECT * FROM runmax WHERE cls_norm IS NOT NULL AND run_id < max_run
),
line_txt AS (
  SELECT url, run_id, page_num, line_id,
         string_agg(text, ' ' ORDER BY gpos) AS lt, min(gpos) AS lpos
  FROM kept GROUP BY url, run_id, page_num, line_id
),
mtext AS (
  SELECT url, run_id, string_agg(lt, chr(10) ORDER BY lpos) AS mention_text
  FROM line_txt GROUP BY url, run_id
),
magg AS (
  -- mention conf = min(least(pcc, word_conf)); word_conf is on the 0-100
  -- Textract scale while pcc < 1, so min(pcc) is exactly equal (the
  -- reference's scale-mixing quirk, extract.py:46-54)
  SELECT url, run_id, min(cls_norm) AS class_id, min(cls_name) AS class_name,
         min(pcc) AS conf
  FROM kept GROUP BY url, run_id
),
mentions AS (
  SELECT a.url, a.run_id, a.class_id, a.class_name, t.mention_text,
         a.conf, p.first_page AS page_num,
         cast(row_number() OVER (PARTITION BY a.url, a.class_id
              ORDER BY a.run_id) - 1 AS int) AS ixe
  FROM magg a
  JOIN mtext t ON t.url = a.url AND t.run_id = a.run_id
  JOIN rfp p ON p.url = a.url AND p.run_id = a.run_id + 1
)
"""

#: E7-E9 value consolidation on top of mentions
VALUES_CTE = f"""
{MENTIONS_CTE},
vals AS (
  SELECT url, class_id, mention_text AS vtext,
         cast(count(*) AS bigint) AS n_detections,
         min(ixe) AS ix_first, max(ixe) AS ix_last,
         1 - exp(sum(ln(1 - conf))) AS vconf_raw
  FROM mentions GROUP BY url, class_id, mention_text
),
valn AS (
  SELECT *, vconf_raw / greatest(1.0,
      sum(vconf_raw) OVER (PARTITION BY url, class_id)) AS vconf
  FROM vals
)
"""


def extract_text_oracle() -> str:
    lines = (f"list_transform(range(0, cast(ceil(len(ws) / {WORDS_PER_LINE}.0) "
             f"as int)), i -> array_to_string(list_slice(ws, i * {WORDS_PER_LINE} "
             f"+ 1, i * {WORDS_PER_LINE} + {WORDS_PER_LINE}), ' '))")
    return f"""
WITH base AS (
  SELECT 'doc://' || doc_id AS url, {X.words('text', 'duck')} AS ws
  FROM documents
)
SELECT url,
       CASE WHEN len(ws) = 0 THEN '' ELSE
         array_to_string({lines}, chr(10)) END AS extracted_text,
       cast(ceil(len(ws) / {WPP}.0) AS int) AS n_pages
FROM base
"""


def word_enrichment_oracle() -> str:
    return f"""
WITH {WORDS_CTE}
SELECT url, page_num, word_pos, line_id, text, pred_cls, pcc FROM we
"""


def mentions_oracle() -> str:
    return f"""
WITH {MENTIONS_CTE}
SELECT url, cast(run_id AS bigint) AS run_id, class_id AS ClassId,
       class_name AS ClassName, mention_text AS Text,
       page_num AS PageNum, conf AS Confidence, ixe
FROM mentions
"""


def field_values_oracle() -> str:
    return f"""
WITH {VALUES_CTE}
SELECT url, class_id AS ClassId, vtext AS Text, n_detections,
       ix_first, ix_last, round(vconf, 6) AS value_conf
FROM valn
"""


def fields_oracle() -> str:
    """E10-E13 full consolidation: one row per (url, configured field)."""
    return "WITH " + _fields_ctes() + "\n" + _FIELDS_SELECT


def apply_review_oracle() -> str:
    """Review merge-back over the fields relation with a deterministic
    synthetic review set (operators/review.py rules; reviews derive from
    the portable hash of url|FieldName so both engines construct them
    identically — h%3==0 rows are reviewed; h%4 picks presence-unchecked /
    exact-confirm / corrected-value / unanswered)."""
    h = duck_hash64("(url || '|' || FieldName)")
    return f"""
WITH {_fields_ctes()},
model AS (
  {_FIELDS_SELECT}
),
rv AS (
  SELECT url, FieldName,
         (h % 4 <> 0) AS present,
         CASE WHEN h % 4 = 1 THEN Value
              WHEN h % 4 = 2 THEN Value || ' (corrected)' END AS rvalue
  FROM (SELECT *, {h} AS h FROM model)
  WHERE h % 3 = 0
),
j AS (
  SELECT m.*, r.present, r.rvalue, (r.url IS NOT NULL) AS has_review,
         (m.Value IS NULL) AS is_multi
  FROM model m LEFT JOIN rv r
    ON r.url = m.url AND r.FieldName = m.FieldName
),
mg AS (
  SELECT *,
         (has_review AND (
            (present = false)
            OR (NOT is_multi AND coalesce(rvalue, '') <> '')
         )) AS found,
         CASE WHEN is_multi THEN (NumDetectedValues = 0)
              ELSE (rvalue IS NOT DISTINCT FROM Value) END AS is_exact
  FROM j
)
SELECT url, ClassId, FieldName, SortOrder,
       CAST(CASE WHEN found AND NOT is_exact THEN 0
                 ELSE NumDetections END AS BIGINT) AS NumDetections,
       CASE WHEN found AND NOT is_multi THEN rvalue ELSE Value END AS Value,
       round(CASE WHEN found THEN 1.0 ELSE Confidence END, 6) AS Confidence,
       found AS reviewed
FROM mg"""


def _fields_ctes() -> str:
    return f"""{VALUES_CTE},
vc AS (
  SELECT v.*, c.sel, c.name, c.optional, c.sort_order FROM valn v
  JOIN cfg c ON c.class_id = v.class_id
),
winners AS (
  SELECT url, class_id, vtext AS win_value, vconf AS win_conf
  FROM (
    SELECT *, row_number() OVER (PARTITION BY url, class_id ORDER BY
      CASE sel WHEN 'confidence' THEN -vconf
               WHEN 'first' THEN ix_first::DOUBLE
               WHEN 'last' THEN -ix_last::DOUBLE
               WHEN 'longest' THEN -len(vtext)::DOUBLE
               WHEN 'shortest' THEN len(vtext)::DOUBLE END ASC,
      ix_first ASC) AS rn
    FROM vc WHERE sel IS NOT NULL
  ) WHERE rn = 1
),
multi AS (
  SELECT url, class_id, avg(vconf) AS multi_conf
  FROM vc WHERE sel IS NULL GROUP BY url, class_id
),
per_field AS (
  SELECT url, class_id, cast(sum(n_detections) AS bigint) AS n_det,
         cast(count(*) AS bigint) AS n_vals
  FROM valn GROUP BY url, class_id
),
urls AS (SELECT DISTINCT url FROM base)"""


_FIELDS_SELECT = """SELECT u.url, c.class_id AS ClassId, c.name AS FieldName,
       c.sort_order AS SortOrder,
       coalesce(p.n_det, 0) AS NumDetections,
       coalesce(p.n_vals, 0) AS NumDetectedValues,
       CASE WHEN c.sel IS NOT NULL THEN coalesce(w.win_value, '') END AS Value,
       round(CASE WHEN c.sel IS NOT NULL THEN coalesce(w.win_conf, 0.0)
             ELSE coalesce(m.multi_conf, 0.0) END, 6) AS Confidence
FROM urls u CROSS JOIN cfg c
LEFT JOIN per_field p ON p.url = u.url AND p.class_id = c.class_id
LEFT JOIN winners w ON w.url = u.url AND w.class_id = c.class_id
LEFT JOIN multi m ON m.url = u.url AND m.class_id = c.class_id"""


def doc_confidence_oracle() -> str:
    return f"""
WITH {VALUES_CTE},
vc AS (
  SELECT v.*, c.sel, c.optional FROM valn v
  JOIN cfg c ON c.class_id = v.class_id
),
winners AS (
  SELECT url, class_id, vconf AS fconf FROM (
    SELECT *, row_number() OVER (PARTITION BY url, class_id ORDER BY
      CASE sel WHEN 'confidence' THEN -vconf
               WHEN 'first' THEN ix_first::DOUBLE
               WHEN 'last' THEN -ix_last::DOUBLE
               WHEN 'longest' THEN -len(vtext)::DOUBLE
               WHEN 'shortest' THEN len(vtext)::DOUBLE END ASC,
      ix_first ASC) AS rn
    FROM vc WHERE sel IS NOT NULL
  ) WHERE rn = 1
),
multi AS (
  SELECT url, class_id, avg(vconf) AS fconf
  FROM vc WHERE sel IS NULL GROUP BY url, class_id
),
urls AS (SELECT DISTINCT url FROM base),
fields AS (
  SELECT u.url, c.class_id, c.optional,
         coalesce(w.fconf, m.fconf, 0.0) AS fconf
  FROM urls u CROSS JOIN cfg c
  LEFT JOIN winners w ON w.url = u.url AND w.class_id = c.class_id
  LEFT JOIN multi m ON m.url = u.url AND m.class_id = c.class_id
)
SELECT url,
       round(min(CASE WHEN fconf = 0.0 AND coalesce(optional, false)
                 THEN NULL ELSE fconf END), 6) AS Confidence
FROM fields GROUP BY url
"""


def split_windows_oracle(max_content_seq_len: int = 24) -> str:
    """Exact-value oracle for the Q2 splitter (split_pages_to_windows):
    replays the greedy word-boundary fill, the strict <50%-backfill pull,
    and the oversize-word skip (reference ``splitting.py:63-144``) as a
    recursive CTE over per-page token-offset arrays.

    Token counts are the SQL twin of ``stub_tokenize``: alpha/digit/symbol
    runs, ``ceil(len(run)/4)`` pieces each. All transitions are monotone
    prefix-sum scans, so "how many words fit" and "how far can the start
    pull back" are plain ``list_filter`` counts — no correlated subqueries.
    """
    L = max_content_seq_len
    half = L / 2.0
    return f"""
WITH RECURSIVE {WORDS_CTE},
tc AS (
  SELECT url, page_num, word_pos,
    CAST(coalesce(list_sum(list_transform(
      regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9]'),
      p -> ceil(len(p) / 4.0)::BIGINT)), 1) AS BIGINT) AS n_tok
  FROM w
),
cum0 AS (
  SELECT url, page_num, word_pos,
         sum(n_tok) OVER (PARTITION BY url, page_num ORDER BY word_pos) AS cum
  FROM tc
),
pg AS (
  SELECT url, page_num,
         list_prepend(CAST(0 AS BIGINT),
                      list(CAST(cum AS BIGINT) ORDER BY word_pos)) AS cum,
         count(*) AS n
  FROM cum0 GROUP BY url, page_num
),
st(url, page_num, cum, n, ix_start, wix, es, ee) AS (
  SELECT url, page_num, cum, n, CAST(0 AS BIGINT), CAST(-1 AS BIGINT),
         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
  FROM pg
  UNION ALL
  SELECT url, page_num, cum, n,
         CASE WHEN fits = 0 THEN ix_start + 1 ELSE endw END,
         CASE WHEN fits = 0 THEN wix ELSE wix + 1 END,
         CASE WHEN fits = 0 THEN NULL ELSE startw END,
         CASE WHEN fits = 0 THEN NULL ELSE endw END
  FROM (
    SELECT url, page_num, cum, n, ix_start, wix, fits,
           ix_start + fits AS endw,
           CASE WHEN fits > 0
                 AND (cum[CAST(ix_start + fits + 1 AS INT)]
                      - cum[CAST(ix_start + 1 AS INT)]) < {half}
                THEN ix_start + 1
                     - len(list_filter(
                         list_slice(cum, 1, CAST(ix_start + 1 AS INT)),
                         c -> cum[CAST(ix_start + fits + 1 AS INT)] - c <= {L}))
                ELSE ix_start END AS startw
    FROM (
      SELECT *,
             len(list_filter(
               list_slice(cum, CAST(ix_start + 2 AS INT), CAST(n + 1 AS INT)),
               c -> c - cum[CAST(ix_start + 1 AS INT)] <= {L})) AS fits
      FROM st WHERE ix_start < n
    )
  )
)
SELECT url, cast(page_num AS int) AS page_num, cast(wix AS int) AS window_ix,
       cast(es AS int) AS start_word, cast(ee AS int) AS end_word,
       cast(cum[CAST(ee + 1 AS INT)] - cum[CAST(es + 1 AS INT)] AS int)
         AS n_tokens
FROM st WHERE es IS NOT NULL"""
