"""Exact-substring span dedup: planted duplicates, span merging, min_docs
semantics, and a DuckDB replay cross-check."""

import duckdb
import pandas as pd
import pytest

from case_uco_ontology_map_spark.operators.spandedup import duplicated_spans

# doc 1 and 2 share an 8-token run; doc 3 repeats its own 4-token phrase;
# doc 4 is clean; doc 5 is shorter than the window
SHARED = "one two three four five six seven eight"
DOCS = [
    (1, f"alpha start {SHARED} tail x"),
    (2, f"beta {SHARED} end y z"),
    (3, "ping pong ping pong ping pong ping pong ping pong"),
    (4, "entirely fresh words never repeated anywhere else here"),
    (5, "tiny doc"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _spans(df):
    return sorted(tuple(r) for r in df.collect())


def test_planted_cross_doc_span(docs):
    out = _spans(duplicated_spans(docs, width=8, hash_mode="md5_60"))
    # doc1: tokens 2..9 are SHARED -> span [2, 10); doc2: tokens 1..8 -> [1, 9)
    assert (1, 2, 10) in out
    assert (2, 1, 9) in out
    # doc4 and doc5 emit nothing
    assert not [s for s in out if s[0] in (4, 5)]


def test_within_doc_repetition_merges_to_one_span(docs):
    out = _spans(duplicated_spans(docs, width=4, hash_mode="md5_60"))
    d3 = [s for s in out if s[0] == 3]
    # every 4-token window of doc3 repeats -> one maximal span covering all
    assert d3 == [(3, 0, 10)]


def test_min_docs_excludes_self_repetition(docs):
    out = _spans(
        duplicated_spans(docs, width=4, min_docs=2, hash_mode="md5_60")
    )
    assert not [s for s in out if s[0] == 3]
    # the cross-doc shared run still shows up at width 4
    assert [s for s in out if s[0] == 1]


def test_matches_duckdb_replay(docs):
    width = 8
    got = pd.DataFrame(
        _spans(duplicated_spans(docs, width=width, hash_mode="md5_60")),
        columns=["doc_id", "span_start", "span_end"],
    )
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(DOCS, columns=["doc_id", "text"]))
    h = "('0x' || substr(md5({x}), 1, 15))::BIGINT"
    gh = h.format(x=f"array_to_string(t[i+1:i+{width}], ' ')")
    want = con.execute(f"""
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, i AS pos, {gh} AS gh
  FROM toks CROSS JOIN LATERAL unnest(range(0, greatest(len(t) - {width}, 0) + 1)) r(i)
  WHERE len(t) >= {width}
),
dup AS (SELECT gh FROM grams GROUP BY gh HAVING count(*) >= 2),
dp AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gh)),
marked AS (
  SELECT doc_id, pos,
         CASE WHEN pos > coalesce(max(pos + {width}) OVER (
            PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
         THEN 1 ELSE 0 END AS new_span
  FROM dp),
sp AS (
  SELECT doc_id, pos, sum(new_span) OVER (
    PARTITION BY doc_id ORDER BY pos
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
  FROM marked)
SELECT doc_id, min(pos) AS span_start, max(pos) + {width} AS span_end
FROM sp GROUP BY doc_id, span_id ORDER BY doc_id, span_start
""").df()
    pd.testing.assert_frame_equal(
        got.astype("int64").reset_index(drop=True),
        want.astype("int64").reset_index(drop=True),
    )
