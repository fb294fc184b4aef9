"""DuckDB oracle SQL for every gated query in ``__spark_entry__``.

Naming rule: the oracle of gate ``<name>`` is the module constant
``<NAME>`` (the gate name upper-cased); ``__spark_entry__.oracle_sql``
looks it up by that name and raises when it is missing. Gates that
must equal another gate's result exactly alias its constant (see
"shared oracles" at the end).

Each statement is the independent ANSI-SQL re-derivation of the Spark
query's semantics over the same parquet views (region nation customer
supplier part orders lineitem events documents embeddings). The driver
runs both at sf0.01 and compares row count + schema + order-insensitive
value hash, so:

  * column names and (as far as possible) physical types match exactly;
  * float math is avoided in outputs — money is fixed-point micro units
    CAST(FLOOR(x*1000000.0) AS BIGINT); cosine similarity feeds filters
    and ranks, never output columns;
  * DuckDB's SUM(BIGINT) -> HUGEINT is always re-cast to BIGINT;
  * generated fragments (simhash bit votes, minhash bands, LSH plane
    dot products, the page-select literal set) are produced by the same
    Python helpers that parameterize the Spark side, so the two engines
    get the same constants while the computations remain independent.

The extraction oracles (extract_*) are closed-form models of
corpus.synth.synth_from_text + the kernel reading-order contract
(SURVEY.md §2.1.6): 8 words per line, 40 lines per page, media on every
3rd completed page, an attachment iff sha256(text) ends in '0'. They
check the REAL Spark extraction pipeline (Arrow UDF stages, salting,
reassembly) against an independent arithmetic model — not against the
same code.
"""

from __future__ import annotations

from ..functions.page_select import parse_page_selection
from ..operators.similarity import make_planes
from ..operators.textstats import LANGS, LANG_STOPWORDS, TOKEN_REGEX

# shared constants (same objects parameterize the Spark side)
ANN_QUERY_IDS = [0, 7, 21, 42, 63]
ANN_K = 3
LSH_SEED = 42
LSH_N_PLANES = 8
LSH_DIM = 64
LSH_PLANES = make_planes(LSH_SEED, LSH_N_PLANES, LSH_DIM)
F7_SPEC = "2n+1"
F7_TOTAL = 7
F7_PAGES = parse_page_selection(F7_SPEC, F7_TOTAL)
JACCARD_THRESHOLD_PCT = 50
JACCARD_MAX_DF = 35
NGRAM_N = 2
MINHASH_K = 8
MINHASH_BANDS = 4
EMB_DUP_THRESHOLD = 0.45
SIMHASH_BITS = 32

_MICRO = "CAST(FLOOR({x} * 1000000.0) AS BIGINT)"


def micro(x: str) -> str:
    return _MICRO.format(x=x)


# --------------------------------------------------------------- extraction

EXTRACT_TEXT_SPANS = """
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         string_split(text, ' ') AS w
  FROM documents
), l AS (
  SELECT did, w,
         unnest(range(0, CAST(ceil(len(w) / 8.0) AS BIGINT))) AS i
  FROM d
)
SELECT did AS doc_id,
       i AS text_rank,
       array_to_string(w[CAST(i*8+1 AS BIGINT):CAST(i*8+8 AS BIGINT)], ' ') AS text
FROM l
WHERE i < 2000  -- MAX_CHUNKS_PER_DOC text-chunk budget (kernel/model.py)
"""

EXTRACT_ATTACHMENTS = """
SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS doc_id,
       'extra.dat' AS name,
       'media-' || substr(sha256(text), 1, 8) AS media_ref
FROM documents
WHERE substr(sha256(text), 64, 1) = '0'
"""

EXTRACT_SPAN_COUNTS = """
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         CAST(ceil(len(string_split(text, ' ')) / 8.0) AS BIGINT) AS nl,
         sha256(text) AS h
  FROM documents
), k AS (
  SELECT did, 'text' AS kind, LEAST(nl, 2000) AS n FROM d WHERE nl > 0
  UNION ALL
  SELECT did, 'media', (nl // 40) // 3 FROM d WHERE (nl // 40) // 3 > 0
  UNION ALL
  SELECT did, 'attachment', 1 FROM d WHERE substr(h, 64, 1) = '0'
)
SELECT did AS doc_id, kind, CAST(n AS BIGINT) AS n_spans FROM k
"""

EXTRACT_TWOCOL_TEXT_SPANS = """
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         string_split(text, ' ') AS w
  FROM documents
), l AS (
  SELECT did, w,
         unnest(range(0, CAST(ceil(len(w) / 5.0) AS BIGINT))) AS j
  FROM d
), ln AS (
  SELECT did, j,
         array_to_string(w[CAST(j*5+1 AS BIGINT):CAST(j*5+5 AS BIGINT)], ' ')
           AS line,
         j // 20 AS pg, j % 20 AS m
  FROM l
), pages AS (
  SELECT did, pg,
         SUM(CASE WHEN m < 10 AND length(line) >= 19 THEN 1 ELSE 0 END) AS lv,
         SUM(CASE WHEN m >= 10 AND length(line) >= 19 THEN 1 ELSE 0 END) AS rv,
         SUM(CASE WHEN m < 10 THEN 1 ELSE 0 END) AS lc,
         SUM(CASE WHEN m >= 10 THEN 1 ELSE 0 END) AS rc,
         count(*) AS cnt
  FROM ln GROUP BY did, pg
), ranked AS (
  SELECT ln.did, ln.pg, ln.line,
         CASE WHEN p.lv >= 3 AND p.rv >= 3 THEN
                -- two-column page: left column top-down, then right
                CASE WHEN ln.m < 10 THEN ln.m ELSE p.lc + (ln.m - 10) END
              -- single-column fallback: rows interleave left,right
              WHEN ln.m < 10 THEN ln.m + LEAST(ln.m, p.rc)
              ELSE (ln.m - 10) + LEAST(ln.m - 10, p.rc) + 1 END AS rip
  FROM ln JOIN pages p USING (did, pg)
), offs AS (
  SELECT did, pg,
         COALESCE(SUM(cnt) OVER (PARTITION BY did ORDER BY pg
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS page_off
  FROM pages
)
SELECT r.did AS doc_id,
       CAST(o.page_off + r.rip AS BIGINT) AS text_rank,
       r.line AS text
FROM ranked r JOIN offs o USING (did, pg)
WHERE o.page_off + r.rip < 2000  -- MAX_CHUNKS_PER_DOC budget
"""

# --------------------------------------------------------------- relational

Q1_PRICING_SUMMARY = f"""
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(SUM({micro('l_quantity')}) AS BIGINT) AS sum_qty_micro,
       CAST(SUM({micro('l_extendedprice')}) AS BIGINT) AS sum_price_micro,
       CAST(SUM({micro('l_extendedprice * (1 - l_discount)')}) AS BIGINT)
         AS sum_disc_price_micro
FROM lineitem
WHERE l_shipdate < TIMESTAMP '1997-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

Q3_SHIPPING_PRIORITY = f"""
SELECT l_orderkey,
       CAST(SUM({micro('l_extendedprice * (1 - l_discount)')}) AS BIGINT)
         AS revenue_micro
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY l_orderkey
ORDER BY revenue_micro DESC, l_orderkey ASC
LIMIT 10
"""

Q5_NATION_VOLUME = f"""
SELECT n_name,
       CAST(SUM({micro('l_extendedprice * (1 - l_discount)')}) AS BIGINT)
         AS revenue_micro
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""

E16_CUSTOMER_PROFILE = f"""
SELECT o_custkey,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(SUM({micro('o_totalprice')}) AS BIGINT) AS total_micro,
       CAST(epoch(MAX(o_orderdate)) AS BIGINT) AS last_order_epoch
FROM orders
GROUP BY o_custkey
"""

E18_TOP_ORDER_PER_CUSTOMER = f"""
WITH r AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
)
SELECT o_custkey, o_orderkey, {micro('o_totalprice')} AS price_micro
FROM r WHERE rn = 1
"""

S3_RUNNING_SUM_BUCKETS = f"""
WITH c AS (
  SELECT l_orderkey, l_linenumber,
         CAST(SUM({micro('l_quantity')}) OVER (
           PARTITION BY l_orderkey
           ORDER BY l_linenumber, l_partkey, l_suppkey,
                    {micro('l_quantity')}, {micro('l_extendedprice')}
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_qty_micro
  FROM lineitem
)
SELECT l_orderkey, l_linenumber, cum_qty_micro,
       CAST(FLOOR(cum_qty_micro / 100000000.0) AS BIGINT) AS bucket
FROM c
"""

S4_LEAD_NEXT_ORDER = """
WITH o AS (
  SELECT o_custkey, o_orderkey,
         CAST(epoch(o_orderdate) AS BIGINT) AS order_epoch,
         lead(CAST(epoch(o_orderdate) AS BIGINT)) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
           AS next_order_epoch
  FROM orders
)
SELECT o_custkey, o_orderkey, order_epoch, next_order_epoch,
       next_order_epoch - order_epoch AS gap_s
FROM o
"""

E12_UNIQUE_NAME_SUFFIX = """
SELECT p_partkey, p_brand,
       p_brand || '_' || CAST(row_number() OVER (
         PARTITION BY p_brand ORDER BY p_partkey) AS VARCHAR) AS filename
FROM part
"""

S6_REVERSE_PERMUTATION = """
SELECT l_orderkey, l_linenumber,
       MAX(l_linenumber) OVER (PARTITION BY l_orderkey) - l_linenumber + 1
         AS new_pos
FROM lineitem
"""

S1_MERGE_COMPARATOR = """
WITH s AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source
)
SELECT source,
       CAST(regexp_extract(source, '([0-9]+)', 1) AS BIGINT) AS src_num,
       n_docs,
       CAST(row_number() OVER (
         ORDER BY CAST(regexp_extract(source, '([0-9]+)', 1) AS BIGINT) ASC,
                  source ASC) AS BIGINT) AS merge_rank
FROM s
"""

F4_SIZE_CLASS_FILTER = f"""
SELECT CASE WHEN p_size <= 5 THEN 'A6'
            WHEN p_size <= 11 THEN 'A5'
            WHEN p_size <= 17 THEN 'A4'
            WHEN p_size <= 22 THEN 'A3'
            WHEN p_size <= 28 THEN 'A2'
            WHEN p_size <= 33 THEN 'A1'
            WHEN p_size <= 39 THEN 'A0'
            WHEN p_size <= 44 THEN 'LETTER'
            ELSE 'LEGAL' END AS size_class,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(SUM({micro('p_retailprice')}) AS BIGINT) AS total_price_micro
FROM part GROUP BY 1
"""


def _f4_page_size_wire_sql() -> str:
    from ..operators.pageops import STANDARD_PAGE_SIZES

    names = list(STANDARD_PAGE_SIZES)
    a4w, a4h = STANDARD_PAGE_SIZES["A4"]
    rows = ", ".join(
        f"({i}, '{n}', {STANDARD_PAGE_SIZES[n][0]!r}, "
        f"{STANDARD_PAGE_SIZES[n][1]!r})"
        for i, n in enumerate(names)
    )
    return f"""
WITH sizes(idx, name, w, h) AS (VALUES {rows}),
d AS (SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
             doc_id % 9 AS idx
      FROM documents)
SELECT did AS doc_id, s.name AS size_class
FROM d JOIN sizes s USING (idx)
WHERE s.w * s.h > {a4w!r} * {a4h!r}
"""


F4_PAGE_SIZE_WIRE = _f4_page_size_wire_sql()

F6_FILTER_ROTATION = """
SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS doc_id,
       CAST((doc_id % 4) * 90 AS BIGINT) AS rotation
FROM documents
WHERE (doc_id % 4) * 90 > 90
"""

F1_FILTER_CONTAINS_TEXT = """
SELECT doc_id, lang, n_chars FROM documents
WHERE contains(text, 'spark join')
"""

F3_FILTER_COUNT_COMPARATOR = """
SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem GROUP BY l_orderkey HAVING count(*) >= 8
"""

F5_FILTER_SIZE_COMPARATOR = """
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
FROM documents WHERE n_chars > 400 GROUP BY lang
"""

F7_PAGE_SELECT_DSL = f"""
SELECT l_linenumber, CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem
WHERE l_linenumber IN ({', '.join(str(p) for p in F7_PAGES)})
GROUP BY l_linenumber
"""

E13_REGEX_SEARCH = """
SELECT doc_id,
       CAST(len(regexp_extract_all(text, 'ta[a-z]+')) AS BIGINT) AS n_matches
FROM documents
WHERE len(regexp_extract_all(text, 'ta[a-z]+')) > 0
"""

EVENTS_HOURLY_ROLLUP = f"""
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(SUM({micro('value')}) AS BIGINT) AS sum_value_micro
FROM events
GROUP BY 1, 2
"""

EVENTS_JSON_EXTRACT = f"""
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
       CAST(count(*) AS BIGINT) AS n,
       CAST(SUM({micro('value')}) AS BIGINT) AS sum_value_micro
FROM events
GROUP BY 1
"""

# ------------------------------------------------------------ training ops

DEDUP_EXACT_GROUPS = """
WITH k AS (SELECT doc_id AS id, md5(text) AS ck FROM documents)
SELECT id,
       MIN(id) OVER (PARTITION BY ck) AS canonical_id,
       CAST(COUNT(*) OVER (PARTITION BY ck) AS BIGINT) AS group_size,
       CASE WHEN id = MIN(id) OVER (PARTITION BY ck) THEN 0 ELSE 1 END AS is_dup
FROM k
"""

_SHINGLES_CTE = """
d AS (SELECT doc_id AS id, string_split(text, ' ') AS w FROM documents),
sh AS (
  SELECT id,
         list_distinct(CASE WHEN len(w) >= 2
           THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
           ELSE CAST([] AS VARCHAR[]) END) AS s
  FROM d
)"""

DEDUP_NGRAM_JACCARD = f"""
WITH {_SHINGLES_CTE},
sz AS (SELECT id, CAST(len(s) AS BIGINT) AS n FROM sh),
x AS (SELECT id, unnest(s) AS shingle FROM sh),
p AS (
  SELECT a.id AS id_a, b.id AS id_b, CAST(count(*) AS BIGINT) AS common
  FROM x a JOIN x b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2
)
SELECT id_a, id_b, common, sa.n AS size_a, sb.n AS size_b
FROM p
JOIN sz sa ON id_a = sa.id
JOIN sz sb ON id_b = sb.id
WHERE common * 100 >= {JACCARD_THRESHOLD_PCT} * (sa.n + sb.n - common)
"""


DEDUP_JACCARD_MAXDF = f"""
WITH {_SHINGLES_CTE},
sz AS (SELECT id, CAST(len(s) AS BIGINT) AS n FROM sh),
x AS (SELECT id, unnest(s) AS shingle FROM sh),
keep AS (
  SELECT shingle FROM x GROUP BY shingle
  HAVING count(*) <= {JACCARD_MAX_DF}
),
xf AS (SELECT x.id, x.shingle FROM x JOIN keep USING (shingle)),
p AS (
  SELECT a.id AS id_a, b.id AS id_b, CAST(count(*) AS BIGINT) AS common
  FROM xf a JOIN xf b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2
)
SELECT id_a, id_b, common, sa.n AS size_a, sb.n AS size_b
FROM p
JOIN sz sa ON id_a = sa.id
JOIN sz sb ON id_b = sb.id
WHERE common * 100 >= {JACCARD_THRESHOLD_PCT} * (sa.n + sb.n - common)
"""


def _minhash_sql() -> str:
    k, bands = MINHASH_K, MINHASH_BANDS
    rpb = k // bands
    mh_cols = ",\n         ".join(
        f"min(substr(md5('{i // 4}:' || shingle), {(i % 4) * 8 + 1}, 8)) AS mh{i}"
        for i in range(k)
    )
    band_rows = "\n  UNION ALL\n".join(
        "  SELECT id, {b} AS band_id, md5({key}) AS key FROM sig".format(
            b=b,
            key=" || '|' || ".join(f"mh{b * rpb + r}" for r in range(rpb)),
        )
        for b in range(bands)
    )
    return f"""
WITH {_SHINGLES_CTE},
shf AS (SELECT id, s FROM sh WHERE len(s) > 0),
x AS (SELECT id, unnest(s) AS shingle FROM shf),
sig AS (
  SELECT id,
         {mh_cols}
  FROM x GROUP BY id
),
bands AS (
{band_rows}
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.key = b.key AND a.id < b.id
),
v AS (
  SELECT id_a, id_b,
         CAST(len(list_intersect(sa.s, sb.s)) AS BIGINT) AS common,
         CAST(len(sa.s) AS BIGINT) AS size_a,
         CAST(len(sb.s) AS BIGINT) AS size_b
  FROM cand
  JOIN shf sa ON id_a = sa.id
  JOIN shf sb ON id_b = sb.id
)
SELECT id_a, id_b, common, size_a, size_b FROM v
WHERE common * 100 >= {JACCARD_THRESHOLD_PCT} * (size_a + size_b - common)
"""


DEDUP_MINHASH_LSH = _minhash_sql()


def _components_sql() -> str:
    """Transitive closure over the MinHash pairs via a recursive CTE
    (UNION dedup terminates on cycles): component = min reachable id,
    singletons from the full documents universe."""
    return f"""
WITH RECURSIVE p AS ({DEDUP_MINHASH_LSH}),
e AS (
  SELECT id_a AS src, id_b AS dst FROM p
  UNION
  SELECT id_b, id_a FROM p
),
reach(a, b) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src
)
SELECT a AS id, MIN(b) AS component FROM reach GROUP BY a
"""


DEDUP_COMPONENTS = _components_sql()

# keep-list application: the component representative (min id — which
# IS the component label) survives, everything else drops; n_dropped
# counts the near-dups the representative absorbs
DEDUP_KEEP_CORPUS = f"""
WITH comp AS ({DEDUP_COMPONENTS})
SELECT CAST(id AS BIGINT) AS doc_id,
       CAST(COUNT(*) OVER (PARTITION BY component) - 1 AS BIGINT)
         AS n_absorbed
FROM comp
QUALIFY id = component
"""


def _simhash_sql() -> str:
    high = "('8','9','a','b','c','d','e','f')"
    votes = ",\n         ".join(
        f"SUM(CASE WHEN substr(m, {i + 1}, 1) IN {high} THEN 1 ELSE -1 END) AS v{i}"
        for i in range(SIMHASH_BITS)
    )
    bits = " || ".join(
        f"CASE WHEN v{i} > 0 THEN '1' ELSE '0' END" for i in range(SIMHASH_BITS)
    )
    return f"""
WITH t AS (
  SELECT doc_id AS id, unnest(string_split(text, ' ')) AS tok FROM documents
),
h AS (SELECT id, md5(tok) AS m FROM t),
v AS (
  SELECT id,
         {votes}
  FROM h GROUP BY id
),
s AS (SELECT id, {bits} AS simhash FROM v)
SELECT id, simhash,
       CAST(COUNT(*) OVER (PARTITION BY simhash) AS BIGINT) AS group_size
FROM s
"""


DEDUP_SIMHASH_GROUPS = _simhash_sql()

_EMB_CTE = """
e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (SELECT id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)"""

DEDUP_EMBEDDING_PAIRS = f"""
WITH {_EMB_CTE}
SELECT a.id AS id_a, b.id AS id_b
FROM n a JOIN n b ON a.id < b.id
WHERE list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v))
      * sqrt(list_dot_product(b.v, b.v))) >= {EMB_DUP_THRESHOLD}
"""

ANN_COSINE_TOPK = f"""
WITH {_EMB_CTE},
q AS (SELECT id AS query_id, v AS qv FROM e
      WHERE id IN ({', '.join(str(i) for i in ANN_QUERY_IDS)})),
s AS (
  SELECT query_id, id,
         list_dot_product(qv, v) / (sqrt(list_dot_product(qv, qv))
           * sqrt(list_dot_product(v, v))) AS c
  FROM q, e WHERE id <> query_id
),
r AS (
  SELECT query_id, id,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY c DESC, id ASC) AS BIGINT) AS rank
  FROM s
)
SELECT query_id, rank, id AS neighbor_id FROM r WHERE rank <= {ANN_K}
"""


def _bucket_bits(planes: list[list[float]]) -> str:
    """The same sign-bit construction the Spark side uses
    (similarity._plane_sign): left-associative term sum, so float64
    results are bit-identical across engines."""
    bit_exprs = []
    for plane in planes:
        terms = " + ".join(f"v[{i + 1}] * ({w!r})" for i, w in enumerate(plane))
        bit_exprs.append(f"CASE WHEN ({terms}) > 0 THEN '1' ELSE '0' END")
    return " || ".join(bit_exprs)


def _lsh_buckets_sql() -> str:
    return f"""
WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT id, {_bucket_bits(LSH_PLANES)} AS bucket FROM e
"""


ANN_LSH_BUCKETS = _lsh_buckets_sql()


def _lsh_topk_sql() -> str:
    ids = ", ".join(str(i) for i in ANN_QUERY_IDS)
    return f"""
WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (SELECT id, v, {_bucket_bits(LSH_PLANES)} AS bucket FROM e),
q AS (SELECT id AS query_id, v AS qv, bucket AS qbucket FROM b
      WHERE id IN ({ids})),
s AS (
  SELECT query_id, b.id,
         list_dot_product(qv, b.v) / (sqrt(list_dot_product(qv, qv))
           * sqrt(list_dot_product(b.v, b.v))) AS c
  FROM q JOIN b ON b.bucket = q.qbucket AND b.id <> q.query_id
),
r AS (
  SELECT query_id, id,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY c DESC, id ASC) AS BIGINT) AS rank
  FROM s
)
SELECT query_id, rank, id AS neighbor_id FROM r WHERE rank <= {ANN_K}
"""


ANN_LSH_TOPK = _lsh_topk_sql()


def _emb_near_dup_lsh_sql() -> str:
    return f"""
WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (SELECT id, v, {_bucket_bits(LSH_PLANES[:4])} AS bucket FROM e)
SELECT a.id AS id_a, b2.id AS id_b
FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.id < b2.id
WHERE list_dot_product(a.v, b2.v) / (sqrt(list_dot_product(a.v, a.v))
      * sqrt(list_dot_product(b2.v, b2.v))) >= {EMB_DUP_THRESHOLD}
"""


EMB_NEAR_DUP_LSH = _emb_near_dup_lsh_sql()

# Deterministic literal IVF centroids for the GATED query (same
# literal-embedding trick as LSH_PLANES, so the DuckDB oracle is exact;
# the data-trained k-means quantizer stays covered by tests/test_ivf.py)
IVF_K = 8
IVF_NPROBE = 2
IVF_SEED = 7
IVF_CENTROIDS = make_planes(IVF_SEED, IVF_K, LSH_DIM)


def _ivf_topk_sql(nprobe: int = None) -> str:
    if nprobe is None:
        nprobe = IVF_NPROBE
    ids = ", ".join(str(i) for i in ANN_QUERY_IDS)
    # squared L2 distance to each centroid as a left-associative term
    # sum — same fold order as ivf._sq_dist, bit-identical float64
    dists = ", ".join(
        " + ".join(
            f"(v[{i + 1}] - ({w!r})) * (v[{i + 1}] - ({w!r}))"
            for i, w in enumerate(c)
        )
        for c in IVF_CENTROIDS
    )
    return f"""
WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c AS (SELECT id, v, [{dists}] AS dl FROM e),
a AS (SELECT id, v, dl, list_indexof(dl, list_min(dl)) AS cluster FROM c),
q0 AS (SELECT id AS query_id, v AS qv, dl AS qdl FROM a
       WHERE id IN ({ids})),
qp AS (
  SELECT query_id, qv, i AS probe,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY qdl[i] ASC, i ASC) AS pr
  FROM q0, unnest(range(1, {IVF_K} + 1)) AS t(i)
),
s AS (
  SELECT qp.query_id, a.id,
         list_dot_product(qp.qv, a.v) / (sqrt(list_dot_product(qp.qv, qp.qv))
           * sqrt(list_dot_product(a.v, a.v))) AS cos
  FROM qp JOIN a ON a.cluster = qp.probe
  WHERE qp.pr <= {nprobe} AND a.id <> qp.query_id
),
r AS (
  SELECT query_id, id,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos DESC, id ASC) AS BIGINT) AS rank
  FROM s
)
SELECT query_id, rank, id AS neighbor_id FROM r WHERE rank <= {ANN_K}
"""


ANN_IVF_TOPK = _ivf_topk_sql()

# wider-probe variant: recall climbs with nprobe while the probe cost
# stays nprobe/k of the corpus — the tunable the IVF family exists for
ANN_IVF_NPROBE3 = _ivf_topk_sql(nprobe=3)


def _semdedup_sql() -> str:
    """SemDeDup (arXiv:2303.09540): nearest-centroid assignment (same
    literals and fold order as the IVF oracles), then a vector is
    pruned iff a LOWER-id vector in the SAME cluster has cosine >=
    the EMB_DUP_THRESHOLD — the quadratic search confined to
    intra-cluster pairs."""
    dists = ", ".join(
        " + ".join(
            f"(v[{i + 1}] - ({w!r})) * (v[{i + 1}] - ({w!r}))"
            for i, w in enumerate(c)
        )
        for c in IVF_CENTROIDS
    )
    return f"""
WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c AS (SELECT id, v, [{dists}] AS dl FROM e),
a AS (SELECT id, v, CAST(list_indexof(dl, list_min(dl)) - 1 AS INTEGER)
             AS cluster FROM c),
p AS (
  SELECT DISTINCT hi.id
  FROM a lo JOIN a hi ON lo.cluster = hi.cluster AND lo.id < hi.id
  WHERE list_dot_product(lo.v, hi.v)
        / (sqrt(list_dot_product(lo.v, lo.v))
           * sqrt(list_dot_product(hi.v, hi.v))) >= {EMB_DUP_THRESHOLD}
)
SELECT a.id, a.cluster,
       CAST(CASE WHEN p.id IS NULL THEN 1 ELSE 0 END AS INTEGER) AS keep
FROM a LEFT JOIN p ON a.id = p.id
"""


SEMDEDUP_PRUNE = _semdedup_sql()

TEXT_FINGERPRINT = """
SELECT doc_id AS id,
       md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
         AS fp
FROM documents
"""

TEXT_REPETITION = """
WITH d AS (SELECT doc_id AS id, string_split(text, ' ') AS w FROM documents),
g AS (
  SELECT id,
         unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]))
           AS gm
  FROM d WHERE len(w) >= 2
),
c AS (SELECT id, gm, count(*) AS cnt FROM g GROUP BY 1, 2)
SELECT id,
       CAST(SUM(cnt) AS BIGINT) AS n_grams,
       CAST(MAX(cnt) AS BIGINT) AS top_count,
       CAST(MAX(cnt) * 1000 // SUM(cnt) AS BIGINT) AS rep_x1000
FROM c GROUP BY id
"""

TEXT_C4_FILTER = r"""
WITH d AS (
  SELECT doc_id AS id, string_split(text, ' ') AS w,
         CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT)
           AS n_nonspace
  FROM documents
), s AS (
  SELECT id,
         CAST(len(w) AS BIGINT) AS n_words,
         CAST(list_max(list_transform(w, x -> length(x))) AS BIGINT)
           AS max_word_len,
         CASE WHEN len(w) > 0
              THEN CAST(FLOOR(n_nonspace * 100 / len(w)) AS BIGINT)
              ELSE 0 END AS mean_word_len_x100
  FROM d
)
SELECT id, n_words, max_word_len, mean_word_len_x100,
       CAST(CASE WHEN n_words >= 20 AND max_word_len <= 20
                  AND mean_word_len_x100 BETWEEN 200 AND 1000
                 THEN 1 ELSE 0 END AS INTEGER) AS keep
FROM s
"""

TEXT_TOKEN_COUNTS = f"""
SELECT doc_id AS id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '{TOKEN_REGEX}')) AS BIGINT)
         AS n_regex_tokens
FROM documents
"""


def _lang_id_sql() -> str:
    score_cols = []
    for lang in LANGS:
        vals = ", ".join(f"'{s}'" for s in LANG_STOPWORDS[lang])
        score_cols.append(
            f"len(list_filter(w, x -> x IN ({vals}))) AS s_{lang}"
        )
    best = "GREATEST({})".format(", ".join(f"s_{lang}" for lang in LANGS))
    pred = "CASE WHEN best <= 0 THEN 'und' " + " ".join(
        f"WHEN s_{lang} = best THEN '{lang}'" for lang in LANGS
    ) + " END"
    return f"""
WITH d AS (SELECT doc_id AS id, string_split(text, ' ') AS w FROM documents),
s AS (SELECT id, {', '.join(score_cols)} FROM d),
b AS (SELECT *, {best} AS best FROM s)
SELECT id, {pred} AS pred_lang, CAST(best AS BIGINT) AS score FROM b
"""


TEXT_LANG_ID = _lang_id_sql()

TEXT_QUALITY = r"""
WITH d AS (
  SELECT doc_id AS id,
         CAST(length(text) AS BIGINT) AS n_chars,
         string_split(text, ' ') AS w,
         CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT)
           AS punct_count,
         CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT)
           AS n_nonspace
  FROM documents
),
s AS (
  SELECT id, n_chars, punct_count,
         CAST(len(w) AS BIGINT) AS n_words,
         CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct_words,
         n_nonspace
  FROM d
),
m AS (
  SELECT *, CASE WHEN n_words > 0
                 THEN CAST(FLOOR(n_nonspace * 100 / n_words) AS BIGINT)
                 ELSE 0 END AS mean_word_len_x100
  FROM s
)
SELECT id, n_chars, n_words, n_distinct_words, mean_word_len_x100, punct_count,
       CAST((CASE WHEN n_words >= 20 THEN 1 ELSE 0 END)
          + (CASE WHEN n_distinct_words * 2 >= n_words THEN 1 ELSE 0 END)
          + (CASE WHEN mean_word_len_x100 BETWEEN 300 AND 900 THEN 1 ELSE 0 END)
          AS BIGINT) AS quality
FROM m
"""

EXTRACT_ELEMENTS = """
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         string_split(text, ' ') AS w,
         CAST(ceil(len(string_split(text, ' ')) / 8.0) AS BIGINT) AS nl,
         sha256(text) AS h
  FROM documents
), l AS (
  SELECT did, w, nl, unnest(range(0, nl)) AS i FROM d
), t AS (
  SELECT did AS doc_id,
         CAST(i // 40 + 1 AS INTEGER) AS page,
         'text' AS kind,
         array_to_string(w[CAST(i*8+1 AS BIGINT):CAST(i*8+8 AS BIGINT)], ' ')
           AS text,
         CAST(NULL AS VARCHAR) AS media_ref,
         'Helvetica' AS font,
         CAST(11.0 AS DOUBLE) AS font_size,
         CAST(72.0 AS DOUBLE) AS x,
         CAST(72.0 + 14.0 * (i % 40) AS DOUBLE) AS y,
         CAST(5.5 * length(array_to_string(
           w[CAST(i*8+1 AS BIGINT):CAST(i*8+8 AS BIGINT)], ' ')) AS DOUBLE)
           AS width,
         CAST(1000000 + i % 40 AS INTEGER) AS z_order,
         CAST(i % 40
              + CASE WHEN (i // 40 + 1) % 3 = 0 AND nl >= (i // 40 + 1) * 40
                     THEN 1 ELSE 0 END AS INTEGER) AS seq
  FROM l
), m AS (
  SELECT did AS doc_id,
         CAST(p AS INTEGER) AS page,
         'media' AS kind,
         CAST(NULL AS VARCHAR) AS text,
         'media-' || substr(sha256(h || ':' || CAST(p AS VARCHAR)), 1, 8)
           AS media_ref,
         CAST(NULL AS VARCHAR) AS font,
         CAST(NULL AS DOUBLE) AS font_size,
         CAST(100.0 AS DOUBLE) AS x,
         CAST(650.0 AS DOUBLE) AS y,
         CAST(200.0 AS DOUBLE) AS width,
         CAST(-1000000 AS INTEGER) AS z_order,
         CAST(0 AS INTEGER) AS seq
  FROM d, unnest(range(3, nl // 40 + 1, 3)) AS u(p)
)
SELECT * FROM t UNION ALL SELECT * FROM m
"""

E1_FULL_TEXT = """
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         string_split(text, ' ') AS w
  FROM documents
), l AS (
  SELECT did, w,
         unnest(range(0, CAST(ceil(len(w) / 8.0) AS BIGINT))) AS i
  FROM d
), lines AS (
  SELECT did,
         i,
         array_to_string(w[CAST(i*8+1 AS BIGINT):CAST(i*8+8 AS BIGINT)], ' ')
           AS line
  FROM l
  WHERE i < 2000  -- MAX_CHUNKS_PER_DOC budget
)
SELECT did AS doc_id,
       md5(string_agg(line, chr(10) ORDER BY i)) AS text_md5,
       CAST(sum(length(line)) + count(*) - 1 AS BIGINT) AS n_chars
FROM lines GROUP BY did
"""

_LINES_CTE = """
d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         string_split(text, ' ') AS w
  FROM documents
), l AS (
  SELECT did, w,
         unnest(range(0, CAST(ceil(len(w) / 8.0) AS BIGINT))) AS i
  FROM d
), lines AS (
  SELECT did, i,
         array_to_string(w[CAST(i*8+1 AS BIGINT):CAST(i*8+8 AS BIGINT)], ' ')
           AS line
  FROM l
)"""

E2_PAGE_TEXT = f"""
WITH {_LINES_CTE}
SELECT did AS doc_id,
       CAST(i // 40 + 1 AS INTEGER) AS page,
       CAST(count(*) AS BIGINT) AS n_lines,
       md5(string_agg(line, chr(10) ORDER BY i)) AS text_md5
FROM lines GROUP BY did, i // 40
"""

E13_SEARCH_POSITIONS = f"""
WITH {_LINES_CTE},
m AS (
  SELECT did, i, line,
         len(regexp_extract_all(line, 'data')) AS nm,
         length(regexp_extract(line, '^(.*?)(data)', 1)) AS off,
         length(regexp_extract(line, '^(.*?)(data)', 2)) AS mlen
  FROM lines
)
SELECT did AS doc_id,
       CAST(i // 40 + 1 AS INTEGER) AS page,
       CAST(nm AS BIGINT) AS n_matches,
       72.0 + off * 5.5 AS x1,
       CAST(72.0 + 14.0 * (i % 40) AS DOUBLE) AS y1,
       72.0 + (off + mlen) * 5.5 AS x2,
       CAST(72.0 + 14.0 * (i % 40) + 11.0 AS DOUBLE) AS y2
FROM m WHERE nm > 0
"""

# TOC write-back over the ×32 repeat RICH corpus: the old chapter
# outline is replaced by the fixed 4-node tree in pre-order, pages
# clamped into [1, np] (np = (4*nw-1)//40+1 like the other repeat
# oracles; the rich title line adds no page).
TOC_SET_OUTLINE = """
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         len(string_split(text, ' ')) AS nw
  FROM documents WHERE length(trim(text)) > 0
), b AS (
  SELECT did, (4 * nw - 1) // 40 + 1 AS np FROM d
)
SELECT did AS doc_id, CAST(r AS BIGINT) AS bm_rank,
       CAST(dep AS BIGINT) AS depth,
       CAST(LEAST(p, np) AS BIGINT) AS page, t AS title
FROM b, (VALUES (0, 0, 1, 'Intro'), (1, 1, 2, 'Background'),
                (2, 0, 5, 'Results'), (3, 0, 99, 'End'))
       v(r, dep, p, t)
"""

# F2 over the ×32 repeat corpus: one media draw per COMPLETED page
# ≡ 0 (mod 3) (synth_from_text emits at page completion), so
# n_media = (nl // 40) // 3 with nl = 4 * n_words.
F2_FILTER_CONTAINS_IMAGE = """
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         4 * len(string_split(text, ' ')) AS nl
  FROM documents WHERE length(trim(text)) > 0
)
SELECT did AS doc_id, CAST((nl // 40) // 3 AS BIGINT) AS n_media
FROM d WHERE (nl // 40) // 3 > 0
"""

# S10 over the ×32 repeat corpus: media gone, every text line and the
# hash-gated attachment survive (synth_from_text hashes ITS input, the
# repeated text).
S10_REMOVE_IMAGES = """
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         4 * len(string_split(text, ' ')) AS nl,
         sha256(rtrim(repeat(text || ' ', 32))) AS h
  FROM documents WHERE length(trim(text)) > 0
)
SELECT did AS doc_id, CAST(nl AS BIGINT) AS n_text,
       CAST(0 AS BIGINT) AS n_media,
       CAST(CASE WHEN substr(h, 64, 1) = '0' THEN 1 ELSE 0 END AS BIGINT)
         AS n_attachments
FROM d
"""

# PII scrub over documents with planted identifiers. The sf text has no
# digits or '@', so each class matches exactly once (the planted
# token); scrubbed_md5 re-applies the SAME regex chain in the same
# order (patterns are RE2-safe by design — see textstats.PII_PATTERNS).
TEXT_SCRUB_PII = r"""
WITH d AS (
  SELECT doc_id AS id,
         text || ' mail a' || CAST(doc_id % 10 AS VARCHAR)
              || '@ex.com ip 10.1.2.' || CAST(doc_id % 200 AS VARCHAR)
              || ' call +44-123-4567' AS t
  FROM documents
), s AS (
  SELECT id,
         regexp_replace(regexp_replace(regexp_replace(t,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
           '\+\d{1,3}-\d{3}-\d{3,4}', '<PHONE>', 'g') AS scrubbed
  FROM d
)
SELECT id, CAST(1 AS BIGINT) AS n_email, CAST(1 AS BIGINT) AS n_ipv4,
       CAST(1 AS BIGINT) AS n_phone, md5(scrubbed) AS scrubbed_md5
FROM s
"""

# Paragraph-level exact dedup: identical algorithm in SQL — 8-word
# windows, first occurrence in (id, idx) order survives, kept text
# hashed in document order (md5('') when nothing survives, matching
# Spark's md5 of the empty join).
DEDUP_PARAGRAPHS = """
WITH d AS (
  SELECT doc_id AS id, string_split(text, ' ') AS w
  FROM documents WHERE length(trim(text)) > 0
), p AS (
  SELECT id, i AS idx,
         array_to_string(w[CAST(i*8+1 AS BIGINT):CAST(i*8+8 AS BIGINT)],
                         ' ') AS para
  FROM (SELECT id, w,
               unnest(range(0, CAST(ceil(len(w) / 8.0) AS BIGINT))) AS i
        FROM d)
), m AS (
  SELECT id, idx, para,
         row_number() OVER (PARTITION BY md5(para) ORDER BY id, idx) = 1
           AS kept
  FROM p
)
SELECT id, CAST(count(*) AS BIGINT) AS n_paras,
       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       md5(coalesce(string_agg(para, chr(10) ORDER BY idx)
                    FILTER (WHERE kept), '')) AS kept_md5
FROM m GROUP BY id
"""

# Attachment CRUD round trip: after add(added.bin, extra.dat) +
# rename(added.bin -> report.bin, moves to end) + delete first
# 'extra.dat', docs that HAD the original extra.dat keep the ADDED one
# (rank 0) before report.bin (rank 1); docs without it keep only
# report.bin (the added extra.dat was the first match and died).
ATTACHMENT_CRUD = """
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         substr(sha256(text), 64, 1) = '0' AS had
  FROM documents
)
SELECT did AS doc_id, CAST(0 AS BIGINT) AS att_rank,
       'extra.dat' AS name, 'media-cc33dd44' AS media_ref
FROM d WHERE had
UNION ALL
SELECT did, CAST(CASE WHEN had THEN 1 ELSE 0 END AS BIGINT),
       'report.bin', 'media-aa11bb22'
FROM d
"""

# S9 page numbers over the ×32 repeat corpus (synth_from_text on text
# repeated 32× -> exactly 4*n_words lines -> np = (4*nw-1)//40+1 pages).
# DSL "1,2n+1" selects page 1 then odd pages 3,5,... in order, so page p
# (odd) has selection index (p-1)//2 and number 5 + (p-1)//2, zero-padded
# to 3. Position 3 = top-right: x = (612 - 0.02*612) - len(text)*6.0
# (uniform width model, 0.5 em * 12 pt), y_screen = 792 - ((792 -
# 0.02*792) - (683/1000)*12) for Times ascent 683. The arithmetic below
# mirrors the operator's evaluation order so doubles are bit-identical.
S9_PAGE_NUMBERS = """
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         len(string_split(text, ' ')) AS nw
  FROM documents WHERE length(trim(text)) > 0
), b AS (
  SELECT did, (4 * nw - 1) // 40 + 1 AS np FROM d
), sel AS (
  SELECT did, np, unnest(range(1, np + 1, 2)) AS p FROM b
), t AS (
  SELECT did, np, p, CAST(5 + (p - 1) // 2 AS BIGINT) AS number,
         'Page ' || lpad(CAST(5 + (p - 1) // 2 AS VARCHAR), 3, '0')
           || ' of ' || CAST(np AS VARCHAR) || ' - ' || did AS text
  FROM sel
)
SELECT did AS doc_id, CAST(p AS BIGINT) AS page, number, text,
       CAST((612 - 0.02 * 612) - length(text) * 6.0 AS DOUBLE) AS x,
       CAST(792 - ((792 - 0.02 * 792) - (683 / 1000.0) * 12.0) AS DOUBLE)
         AS y,
       'Times-Roman' AS font
FROM t
"""

# Whole-word 1-char digit search (TextFinder.java:79-88 lookaround
# variants). DuckDB's RE2 regex has no lookbehind, so this oracle is the
# closed-form model of the constructed corpus: the planted contexts
# "3.5 x5 7,5 5,7" never match, ".5 5. (5)" always match (3), plus
# 1 + doc_id%3 standalone "5" tokens; first match is the ".5" at char
# offset 19 of "w<d> 3.5 x5 7,5 5,7 .5 5. (5)...".
E13_WHOLE_WORD_DIGIT = """
SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS doc_id,
       CAST(1 AS BIGINT) AS page,
       CAST(4 + doc_id % 3 AS BIGINT) AS n_matches,
       CAST(72.0 + 19 * 5.5 AS DOUBLE) AS x1,
       CAST(72.0 AS DOUBLE) AS y1,
       CAST(72.0 + 20 * 5.5 AS DOUBLE) AS x2,
       CAST(83.0 AS DOUBLE) AS y2
FROM documents
"""

# /auto-redact over the bait corpus (docs_redact_from_documents):
# pass 1 whole-word 'report' (RE2 \b matches Java \b here; 'reports'
# survives), pass 2 literal 'data' + regex '[0-9]+' — masking a digit
# RUN match-length-preserving equals masking each digit, which keeps
# the variable-length path expressible in RE2 (no lookarounds needed)
AUTO_REDACT = r"""
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         ltrim(text || ' classified id ' || CAST(doc_id AS VARCHAR)
               || ' code '
               || CAST(CAST(concat('0x', substr(sha256(text), 1, 8))
                            AS BIGINT) % 100000 AS VARCHAR)) AS t
  FROM documents
), w0 AS (
  SELECT did, string_split(t, ' ') AS w FROM d
), l AS (
  SELECT did, w,
         unnest(range(0, CAST(ceil(len(w) / 8.0) AS BIGINT))) AS i
  FROM w0
), lines AS (
  SELECT did, i,
         array_to_string(w[CAST(i*8+1 AS BIGINT):CAST(i*8+8 AS BIGINT)],
                         ' ') AS line
  FROM l
)
SELECT did AS doc_id, i AS text_rank,
       regexp_replace(
         replace(
           regexp_replace(line, '\breport\b', '██████', 'g'),
           'data', '████'),
         '[0-9]', '█', 'g') AS text
FROM lines
WHERE i < 2000  -- MAX_CHUNKS_PER_DOC budget
"""

# /edit-text over the bait corpus: per POSITIONAL page, the joined
# (separator-less) line concatenation gets the ordered replace chain —
# whole-word 'report' via \b is equivalent to the engine's lookarounds
# here because the find is word-char-bounded and both engines evaluate
# the SAME joined string (line seams suppress matches identically)
EDIT_TEXT = r"""
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         ltrim(text || ' classified id ' || CAST(doc_id AS VARCHAR)
               || ' code '
               || CAST(CAST(concat('0x', substr(sha256(text), 1, 8))
                            AS BIGINT) % 100000 AS VARCHAR)) AS t
  FROM documents
), w0 AS (
  SELECT did, string_split(t, ' ') AS w FROM d
), l AS (
  SELECT did, w,
         unnest(range(0, CAST(ceil(len(w) / 8.0) AS BIGINT))) AS i
  FROM w0
), lines AS (
  SELECT did, i,
         array_to_string(w[CAST(i*8+1 AS BIGINT):CAST(i*8+8 AS BIGINT)],
                         ' ') AS line
  FROM l WHERE i < 2000
), pages AS (
  SELECT did, i // 40 AS pg, string_agg(line, '' ORDER BY i) AS jt
  FROM lines GROUP BY did, i // 40
), ed AS (
  SELECT did, pg,
         replace(replace(
           regexp_replace(jt, '\breport\b', 'summaries', 'g'),
           'classified', 'RESTRICTED'), 'id', 'no') AS et
  FROM pages
), doc AS (
  SELECT did, string_agg(et, '' ORDER BY pg) AS ftext
  FROM ed GROUP BY did
)
SELECT did AS doc_id, md5(ftext) AS text_md5,
       CAST(length(ftext) AS BIGINT) AS n_chars
FROM doc
"""

S12_REDACT_TEXT = f"""
WITH {_LINES_CTE}
SELECT did AS doc_id,
       i AS text_rank,
       replace(line, 'data', '{"█" * 4}') AS text
FROM lines
WHERE i < 2000  -- MAX_CHUNKS_PER_DOC budget
"""

E17_DOC_INFO = """
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         string_split(text, ' ') AS w,
         CAST(ceil(len(string_split(text, ' ')) / 8.0) AS BIGINT) AS nl,
         sha256(text) AS h
  FROM documents
), capped AS (
  -- text spans/chars honor the MAX_CHUNKS_PER_DOC = 2000 budget
  SELECT did, w, unnest(range(0, LEAST(nl, 2000))) AS i FROM d
), agg AS (
  SELECT did,
         CAST(count(*) AS BIGINT) AS n_text_spans,
         CAST(SUM(length(array_to_string(
           w[CAST(i*8+1 AS BIGINT):CAST(i*8+8 AS BIGINT)], ' '))) AS BIGINT)
           AS n_text_chars
  FROM capped GROUP BY did
)
SELECT d.did AS doc_id,
       CAST((nl - 1) // 40 + 1 AS BIGINT) AS n_pages,
       a.n_text_spans,
       a.n_text_chars,
       (nl // 40) // 3 AS n_media,
       CAST(CASE WHEN substr(h, 64, 1) = '0' THEN 1 ELSE 0 END AS BIGINT)
         AS n_attachments
FROM d JOIN agg a USING (did)
WHERE nl > 0
"""

S6_REVERSE_EXTRACT = """
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         string_split(text, ' ') AS w,
         CAST(ceil(len(string_split(text, ' ')) / 8.0) AS BIGINT) AS nl
  FROM documents
), l AS (
  SELECT did, w, nl, unnest(range(0, nl)) AS i FROM d
)
SELECT did AS doc_id,
       CAST(GREATEST(nl - 40 * (i // 40 + 1), 0) + i % 40 AS BIGINT)
         AS text_rank,
       array_to_string(w[CAST(i*8+1 AS BIGINT):CAST(i*8+8 AS BIGINT)], ' ')
         AS text
FROM l
WHERE GREATEST(nl - 40 * (i // 40 + 1), 0) + i % 40 < 2000
"""

S9_STAMP_EXTRACT = """
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         string_split(text, ' ') AS w,
         CAST(ceil(len(string_split(text, ' ')) / 8.0) AS BIGINT) AS nl
  FROM documents
), l AS (
  SELECT did, w, nl, unnest(range(0, nl)) AS i FROM d
), lines AS (
  -- one stamp precedes every later page: rank = i + page_index
  SELECT did, CAST(i + i // 40 AS BIGINT) AS text_rank,
         array_to_string(w[CAST(i*8+1 AS BIGINT):CAST(i*8+8 AS BIGINT)], ' ')
           AS text
  FROM l
), pages AS (
  SELECT did, nl, unnest(range(1, (nl - 1) // 40 + 2)) AS p
  FROM d WHERE nl > 0
), stamps AS (
  SELECT did,
         CAST(41 * (p - 1)
              + CASE WHEN p * 40 <= nl THEN 40 ELSE nl - (p - 1) * 40 END
              AS BIGINT) AS text_rank,
         'STAMP ' || CAST(p AS VARCHAR) AS text
  FROM pages
)
SELECT did AS doc_id, text_rank, text FROM lines WHERE text_rank < 2000
UNION ALL
SELECT did, text_rank, text FROM stamps WHERE text_rank < 2000
"""

S3_SPLIT_COUNT = """
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         CAST(ceil(len(string_split(text, ' ')) / 8.0) AS BIGINT) AS nl,
         sha256(text) AS h
  FROM documents
), pp AS (
  SELECT did, nl, h, (nl - 1) // 40 + 1 AS np FROM d WHERE nl > 0
), parts AS (
  SELECT did, nl, np, unnest(range(0, (np - 1) // 2 + 1)) AS k FROM pp
), rows_ AS (
  SELECT did || '#p' || CAST(k AS VARCHAR) AS doc_id, 'text' AS kind,
         LEAST(nl - 80 * k, 80) AS n
  FROM parts
  UNION ALL
  SELECT did || '#p' || CAST(k AS VARCHAR), 'media',
         (CASE WHEN (2*k + 1) % 3 = 0 AND nl >= 40 * (2*k + 1)
               THEN 1 ELSE 0 END
          + CASE WHEN (2*k + 2) % 3 = 0 AND nl >= 40 * (2*k + 2)
                 THEN 1 ELSE 0 END)
  FROM parts
  UNION ALL
  SELECT did || '#p' || CAST((np - 1) // 2 AS VARCHAR), 'attachment', 1
  FROM pp WHERE substr(h, 64, 1) = '0'
)
SELECT doc_id, kind, CAST(n AS BIGINT) AS n_spans FROM rows_ WHERE n > 0
"""

SPLIT_BYTE_MAX = 5000  # byte budget for the split-by-size gate

# S3 split-by-DOC-count (SplitPdfBySizeController.java:287-310, n=3)
# over the x32 repeat corpus: per = np//3 pages per part, first np%3
# parts one bigger, empty trailing parts skipped; media only on
# COMPLETED every-3rd pages; attachment sticks to the last part.
S3_SPLIT_DOC_COUNT = """
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         4 * len(string_split(text, ' ')) AS nl,
         sha256(repeat(text || ' ', 31) || text) AS h
  FROM documents WHERE length(trim(text)) > 0
), b AS (
  SELECT did, nl, h, (nl - 1) // 40 + 1 AS np FROM d
), parts AS (
  SELECT did, nl, np, h, unnest(range(0, LEAST(np, 3))) AS k,
         np // 3 AS per, np % 3 AS extra
  FROM b
), geom AS (
  SELECT did, nl, np, k,
         k * per + LEAST(k, extra) AS rs,
         per + CASE WHEN k < extra THEN 1 ELSE 0 END AS sz
  FROM parts
), rows_ AS (
  SELECT did || '#d' || CAST(k AS VARCHAR) AS doc_id, 'text' AS kind,
         LEAST(nl - 40 * rs, 40 * sz) AS n
  FROM geom
  UNION ALL
  SELECT did || '#d' || CAST(k AS VARCHAR), 'media',
         GREATEST(LEAST(rs + sz, nl // 40) // 3 - rs // 3, 0)
  FROM geom
  UNION ALL
  SELECT did || '#d' || CAST(LEAST(np, 3) - 1 AS VARCHAR), 'attachment', 1
  FROM b WHERE substr(h, 64, 1) = '0'
)
SELECT doc_id, kind, CAST(n AS BIGINT) AS n_spans FROM rows_ WHERE n > 0
"""

# S3 split-by-SIZE (SplitPdfBySizeController.java:193-240) over the
# x32 repeat corpus: the reference's probe-frequency state machine —
# checks after the 5th/10th/15th page of a range, every page from the
# 20th, and at the last page; over-budget probes backtrack by ONE page
# (ranges CAN exceed the budget; the look-ahead is outcome-neutral,
# see operators/pageops.split_by_byte_size). Size model = per-page
# text-content bytes (strlen = byte length in DuckDB, octet_length in
# Spark). The machine is a recursive CTE: each step finds the first
# over-budget checkpoint via a correlated MIN over page prefix sums —
# pinned against a direct simulation of the Java loop in
# tests/test_split_modes.py.
S3_SPLIT_BYTE_SIZE = f"""
WITH RECURSIVE d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         flatten(list_transform(range(32),
                                x -> string_split(text, ' '))) AS w32,
         4 * len(string_split(text, ' ')) AS nl
  FROM documents WHERE length(trim(text)) > 0
), li AS (
  SELECT did, i,
         strlen(array_to_string(w32[(i*8+1):(i*8+8)], ' ')) AS lb
  FROM (SELECT did, w32, unnest(range(0, nl)) AS i FROM d)
), cum AS (
  SELECT did, q, b,
         SUM(b) OVER (PARTITION BY did ORDER BY q) AS cb,
         COUNT(*) OVER (PARTITION BY did) AS np
  FROM (SELECT did, i // 40 AS q, SUM(lb) AS b
        FROM li GROUP BY did, i // 40)
), parts AS (
  SELECT did, np, 0 AS k, 0 AS rs,
         COALESCE(
           (SELECT CASE WHEN MIN(c.q) > 0 THEN MIN(c.q) - 1
                        ELSE MIN(c.q) END
            FROM cum c
            WHERE c.did = s.did
              AND ((c.q + 1) % 5 = 0 OR c.q + 1 >= 20 OR c.q = s.np - 1)
              AND c.cb > {{MAXB}}),
           np - 1) AS re
  FROM (SELECT DISTINCT did, np FROM cum) s
  UNION ALL
  SELECT did, np, k + 1, rs2,
         COALESCE(
           (SELECT CASE WHEN MIN(c.q) > rs2 THEN MIN(c.q) - 1
                        ELSE MIN(c.q) END
            FROM cum c
            WHERE c.did = p.did AND c.q >= rs2
              AND ((c.q - rs2 + 1) % 5 = 0 OR c.q - rs2 + 1 >= 20
                   OR c.q = p.np - 1)
              AND c.cb - cbb > {{MAXB}}),
           np - 1) AS re
  FROM (SELECT did, np, k, re + 1 AS rs2,
               (SELECT cb FROM cum c3
                WHERE c3.did = parts.did AND c3.q = parts.re) AS cbb
        FROM parts WHERE re < np - 1) p
), sized AS (
  SELECT p.did || '#b' || CAST(p.k AS VARCHAR) AS doc_id,
         LEAST(d.nl, 40 * (p.re + 1)) - 40 * p.rs AS n
  FROM parts p JOIN d ON d.did = p.did
)
SELECT doc_id, CAST(n AS BIGINT) AS n_lines FROM sized WHERE n > 0
""".replace("{MAXB}", str(SPLIT_BYTE_MAX))

# S11-family form flatten (FlattenController.java flattenOnlyForms):
# field VALUES become static last-page text below the body band, the
# field dictionaries disappear; empty values (incl. the signature
# placeholder) paint nothing. Full text = body lines ++ painted
# values; fields re-derived from the same hash digits as E16.
S11_FLATTEN_FORMS = f"""
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         string_split(text, ' ') AS w,
         sha256(text) AS h
  FROM documents WHERE length(trim(text)) > 0
), l AS (
  SELECT did, w,
         unnest(range(0, CAST(ceil(len(w) / 8.0) AS BIGINT))) AS i
  FROM d
), lines AS (
  SELECT did, i,
         array_to_string(w[CAST(i*8+1 AS BIGINT):CAST(i*8+8 AS BIGINT)],
                         ' ') AS line
  FROM l WHERE i < 2000
), painted AS (
  SELECT did, 1000000 + j AS i, w[CAST(j + 1 AS BIGINT)] AS line
  FROM (SELECT did, w, unnest(range(0, (strpos('0123456789abcdef', substr(h, 15, 1)) - 1) % 3)) AS j FROM d)
  WHERE j + 1 <= len(w) AND w[CAST(j + 1 AS BIGINT)] <> ''
), all_lines AS (
  SELECT * FROM lines UNION ALL SELECT * FROM painted
)
SELECT did AS doc_id, CAST(0 AS BIGINT) AS n_formfields,
       md5(string_agg(line, chr(10) ORDER BY i)) AS text_md5,
       CAST(sum(length(line)) + count(*) - 1 AS BIGINT) AS n_chars
FROM all_lines GROUP BY did
"""

# S9-family watermark grid (WatermarkController.addTextWatermark,
# rotation 0): 'WATERMARK' at fs=20, ws=216, hs=92 -> pitch 306x112,
# cols = int(612/306+1) = 3 (j 0..3, x = 306j), rows = int(792/112+1)
# = 8 (i 0..8, screen y = 792 - 112i, congruent 8 mod 14 so no stamp
# shares a baseline with body lines at 72 + 14k, congruent 2). Every
# stamp is its own visual line (x-gaps 216 > 14 split boxes; width 90
# < 100 never joins the column vote); full text = all lines in
# (page, y, x) order.
S9_WATERMARK_GRID = """
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         string_split(text, ' ') AS w
  FROM documents WHERE length(trim(text)) > 0
), b AS (
  SELECT did, w, CAST(ceil(len(w) / 8.0) AS BIGINT) AS nl,
         (CAST(ceil(len(w) / 8.0) AS BIGINT) - 1) // 40 + 1 AS np
  FROM d
), body AS (
  SELECT did, i // 40 + 1 AS page,
         CAST(72 + 14 * (i % 40) AS DOUBLE) AS y,
         CAST(72 AS DOUBLE) AS x,
         array_to_string(w[CAST(i*8+1 AS BIGINT):CAST(i*8+8 AS BIGINT)],
                         ' ') AS line
  FROM (SELECT did, w, unnest(range(0, nl)) AS i FROM b WHERE nl > 0)
  WHERE i < 2000
), wm AS (
  SELECT p.did, p.page,
         CAST(792 - 112 * gi.i AS DOUBLE) AS y,
         CAST(306 * gj.j AS DOUBLE) AS x,
         'WATERMARK' AS line
  FROM (SELECT did, unnest(range(1, np + 1)) AS page FROM b) p,
       (SELECT unnest(range(0, 9)) AS i) gi,
       (SELECT unnest(range(0, 4)) AS j) gj
), all_lines AS (
  SELECT * FROM body UNION ALL SELECT * FROM wm
)
SELECT did AS doc_id,
       md5(string_agg(line, chr(10) ORDER BY page, y, x)) AS text_md5,
       CAST(sum(length(line)) + count(*) - 1 AS BIGINT) AS n_chars
FROM all_lines GROUP BY did
"""

# /remove-blank-pages through the wire: the gate appends a
# whitespace-only page np+1 and a marker page np+2; after removal the
# body pages keep their numbers and the marker renumbers to np+1.
REMOVE_BLANK_PAGES = """
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         CAST(ceil(len(string_split(text, ' ')) / 8.0) AS BIGINT) AS nl
  FROM documents
), b AS (
  SELECT did, nl,
         CASE WHEN nl = 0 THEN 0 ELSE (nl - 1) // 40 + 1 END AS np
  FROM d
), rows_ AS (
  SELECT did, unnest(range(1, np + 1)) AS page, nl FROM b
)
SELECT did AS doc_id, CAST(page AS BIGINT) AS page,
       CAST(LEAST(nl - 40 * (page - 1), 40) AS BIGINT) AS n_text
FROM rows_
UNION ALL
SELECT did, CAST(np + 1 AS BIGINT), CAST(1 AS BIGINT) FROM b
"""

# /sanitize-pdf, all options on, over the analysis corpus + the
# gate-appended JS meta / Link / FileAttachment annotations:
# removal columns all-zero, Link survives action-cleared, catalog
# metas and AcroForm fields pass through, fonts cleared.
SANITIZE_PDF = """
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did, sha256(text) AS h
  FROM documents
)
SELECT did AS doc_id,
       CAST(0 AS BIGINT) AS n_attachments,
       CAST(0 AS BIGINT) AS n_fileattach,
       CAST(0 AS BIGINT) AS n_js,
       CAST(0 AS BIGINT) AS n_info_meta,
       CAST(CASE WHEN (strpos('0123456789abcdef', substr(h, 13, 1)) - 1) % 2 = 0 THEN 5 ELSE 1 END
            + CASE WHEN (strpos('0123456789abcdef', substr(h, 16, 1)) - 1) % 4 = 1 THEN 1 ELSE 0 END
            AS BIGINT) AS n_other_meta,
       CAST(1 AS BIGINT) AS n_link,
       CAST(0 AS BIGINT) AS n_link_with_uri,
       CAST((strpos('0123456789abcdef', substr(h, 15, 1)) - 1) % 3
            + CASE WHEN (strpos('0123456789abcdef', substr(h, 16, 1)) - 1) % 4 = 0 THEN 1 ELSE 0 END
            AS BIGINT) AS n_formfields,
       '' AS fonts_sig
FROM d
"""

# /add-password + /remove-password (PasswordController.java:54-139),
# doc-parity split: even docs protected (user pw, keyLength 128, two
# prevent* flags -> AESV2/128/rev4 + 8 permission flags), odd docs
# get setAllSecurityToBeRemoved (is_encrypted false, every
# encryption-state key gone, incl. the corpus's own encrypted blocks).
SECURITY_PASSWORD = """
WITH d AS (
  SELECT doc_id AS n, 'doc-' || CAST(doc_id AS VARCHAR) AS did
  FROM documents
)
SELECT did AS doc_id, k AS key, v AS value
FROM d, (VALUES
  ('is_encrypted', 'true'),
  ('encrypt_algorithm', 'AESV2'),
  ('encrypt_keylen', '128'),
  ('encrypt_revision', '4'),
  ('perm_can_assemble', 'true'),
  ('perm_can_extract', 'true'),
  ('perm_can_extract_accessibility', 'true'),
  ('perm_can_fill_forms', 'true'),
  ('perm_can_modify', 'false'),
  ('perm_can_modify_annotations', 'true'),
  ('perm_can_print', 'false'),
  ('perm_can_print_faithful', 'true')) t(k, v)
WHERE n % 2 = 0
UNION ALL
SELECT did, 'is_encrypted', 'false' FROM d WHERE n % 2 = 1
"""

# URL extraction over deterministic appended URLs: one scheme URL and
# one bare-www URL per doc, in order, with registrable hosts.
TEXT_URL_EXTRACT = """
WITH d AS (SELECT doc_id AS n, 'doc-' || CAST(doc_id AS VARCHAR) AS did
           FROM documents)
SELECT did AS id, CAST(0 AS BIGINT) AS pos,
       'https://site' || (n % 7) || '.example.com/p/' || n AS url,
       'site' || (n % 7) || '.example.com' AS domain
FROM d
UNION ALL
SELECT did, CAST(1 AS BIGINT),
       'www.mirror' || (n % 7) || '.org',
       'www.mirror' || (n % 7) || '.org'
FROM d
"""

# Per-domain cap 2: 7 deterministic domains, survivors ranked by
# md5 of the id string (reproducible across cluster sizes).
TEXT_DOMAIN_CAPS = """
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS id,
         'site' || (doc_id % 7) || '.example.com' AS domain
  FROM documents
), r AS (
  SELECT id, domain,
         ROW_NUMBER() OVER (PARTITION BY domain
                            ORDER BY lower(md5(id)), id) AS rnk
  FROM d
)
SELECT id, domain, CAST(rnk AS BIGINT) AS rnk FROM r WHERE rnk <= 2
"""

# /show-javascript: name-tree entries in sorted-key order or the
# literal no-JS body; every third doc carries the two gate scripts.
SHOW_JAVASCRIPT = """
SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS doc_id,
       CASE WHEN doc_id % 3 = 0 THEN
         '// File: doc-' || doc_id || ', Script: openaction' || chr(10)
         || 'app.alert(1)' || chr(10)
         || '// File: doc-' || doc_id || ', Script: validate' || chr(10)
         || 'var x=2;' || chr(10)
       ELSE
         'PDF ' || chr(39) || 'doc-' || doc_id || chr(39)
         || ' does not contain Javascript'
       END AS script
FROM documents
"""

# 13-gram benchmark decontamination: benchmark = every 25th doc; a doc
# is contaminated when it shares ANY distinct 13-gram with the suite.
DEDUP_DECONTAMINATE = """
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS id, doc_id AS n0,
         string_split(text, ' ') AS w
  FROM documents
), sh AS (
  SELECT id, n0, list_distinct(CASE WHEN len(w) >= 13 THEN list_transform(range(1, len(w) - 11), i -> w[i+0] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7] || ' ' || w[i+8] || ' ' || w[i+9] || ' ' || w[i+10] || ' ' || w[i+11] || ' ' || w[i+12]) ELSE CAST([] AS VARCHAR[]) END) AS s FROM d
), bench AS (
  SELECT DISTINCT unnest(s) AS g FROM sh WHERE n0 % 25 = 0
), x AS (
  SELECT id, unnest(s) AS g FROM sh
), hits AS (
  SELECT x.id, CAST(count(*) AS BIGINT) AS n_contaminated
  FROM x JOIN bench USING (g) GROUP BY x.id
)
SELECT sh.id, COALESCE(h.n_contaminated, 0) AS n_contaminated,
       COALESCE(h.n_contaminated, 0) > 0 AS contaminated,
       CAST(len(sh.s) AS BIGINT) AS n_shingles
FROM sh LEFT JOIN hits h ON sh.id = h.id
"""

# PDF -> Markdown over the rich corpus: title -> '# ' heading, all
# body paragraphs merge (clean lowercase vocab, no sentence
# punctuation, no markdown control characters -> escaping is identity
# on THIS corpus; the operator still implements the full escape set).
# PDF -> HTML over the rich corpus: same block decisions as
# TO_MARKDOWN (6-word glyph-count tie -> bold label, else h1), with
# entity escaping (& first, then < >) and the standalone wrapper
TO_HTML = """
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         string_split(text, ' ') AS w, text
  FROM documents WHERE length(trim(text)) > 0
), e AS (
  SELECT did, len(w) AS nw,
         replace(replace(replace(array_to_string(w[1:6], ' '),
                 '&', '&amp;'), '<', '&lt;'), '>', '&gt;') AS t6,
         replace(replace(replace(text,
                 '&', '&amp;'), '<', '&lt;'), '>', '&gt;') AS et
  FROM d
), m AS (
  SELECT did,
         '<!DOCTYPE html>' || chr(10) || '<html>' || chr(10)
         || '<body>' || chr(10)
         || CASE WHEN nw > 6 THEN '<h1>' || t6 || '</h1>'
                 ELSE '<p><strong>' || t6 || '</strong></p>' END
         || chr(10) || '<p>' || et || '</p>' || chr(10)
         || '</body>' || chr(10) || '</html>' AS html
  FROM e
)
SELECT did AS doc_id, md5(html) AS html_md5,
       CAST(length(html) AS BIGINT) AS n_chars
FROM m
"""

# PDF -> structural XML over the rich corpus: same block decisions as
# TO_HTML (6-word glyph-count tie -> bold label, else heading), with
# the XML vocabulary (kernel/xml_export.py) and the declaration +
# <document> root wrapper
TO_XML = """
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         string_split(text, ' ') AS w, text
  FROM documents WHERE length(trim(text)) > 0
), e AS (
  SELECT did, len(w) AS nw,
         replace(replace(replace(array_to_string(w[1:6], ' '),
                 '&', '&amp;'), '<', '&lt;'), '>', '&gt;') AS t6,
         replace(replace(replace(text,
                 '&', '&amp;'), '<', '&lt;'), '>', '&gt;') AS et
  FROM d
), m AS (
  SELECT did,
         '<?xml version="1.0" encoding="UTF-8"?>' || chr(10)
         || '<document>' || chr(10)
         || CASE WHEN nw > 6
                 THEN '<heading level="1">' || t6 || '</heading>'
                 ELSE '<p><strong>' || t6 || '</strong></p>' END
         || chr(10) || '<p>' || et || '</p>' || chr(10)
         || '</document>' AS x
  FROM e
)
SELECT did AS doc_id, md5(x) AS xml_md5,
       CAST(length(x) AS BIGINT) AS n_chars
FROM m
"""

TO_MARKDOWN = """
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         string_split(text, ' ') AS w, text
  FROM documents WHERE length(trim(text)) > 0
), m AS (
  SELECT did,
         -- > 6 words: body glyphs outnumber the 16pt title glyphs so
         -- the glyph median stays 11 and 16/11 > 1.4 -> '# '. At <= 6
         -- words title and body glyph counts TIE, the median becomes
         -- (11+16)/2 = 13.5, 16/13.5 < 1.2 -> the bold-label branch
         -- (**title**), never a heading (HeadingDetector.java:36-66)
         CASE WHEN len(w) > 6
              THEN '# ' || array_to_string(w[1:6], ' ')
              ELSE '**' || array_to_string(w[1:6], ' ') || '**'
         END || chr(10) || chr(10) || text AS md
  FROM d
)
SELECT did AS doc_id, md5(md) AS md_md5,
       CAST(length(md) AS BIGINT) AS n_chars
FROM m
"""

# Markdown ingestion (/markdown/pdf): the converted blocks extract as
# one text span each — heading (4 words), the full paragraph, two list
# items, four table cells — in document order.
MD_TO_PDF_INGEST = """
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         string_split(text, ' ') AS w,
         len(string_split(text, ' ')) AS nw, text
  FROM documents WHERE length(trim(text)) > 0
)
SELECT did AS doc_id, CAST(0 AS BIGINT) AS span_order,
       w[((0) % nw) + 1] || ' ' || w[((1) % nw) + 1] || ' ' || w[((2) % nw) + 1] || ' ' || w[((3) % nw) + 1] AS text
FROM d
-- blocks clip at MAX_CHARS_PER_CHUNK = 500 (kernel/extract.py
-- text-chunk budget) — only the paragraph block can exceed it
UNION ALL SELECT did, 1, substr(text, 1, 500) FROM d
UNION ALL SELECT did, 2, w[((4) % nw) + 1] FROM d
UNION ALL SELECT did, 3, w[((5) % nw) + 1] FROM d
UNION ALL SELECT did, 4, w[((6) % nw) + 1] FROM d
UNION ALL SELECT did, 5, w[((7) % nw) + 1] FROM d
UNION ALL SELECT did, 6, w[((8) % nw) + 1] FROM d
UNION ALL SELECT did, 7, w[((9) % nw) + 1] FROM d
"""

E20_AUTO_SPLIT = """
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         CAST(ceil(len(string_split(text, ' ')) / 8.0) AS BIGINT) AS nl
  FROM documents
)
-- dividers on pages 1 AND 3: the page-1 divider stays as content of
-- part 0 (AutoSplitPdfController's page==0 branch; it is a media span,
-- invisible to this text-line count), page 3 is dropped and starts
-- part 1 -> part 0 = pages 1-2, part 1 = pages 4+
SELECT did || '#q0' AS doc_id, CAST(LEAST(nl, 80) AS BIGINT) AS n_lines
FROM d WHERE nl > 0
UNION ALL
SELECT did || '#q1', CAST(LEAST(nl - 120, 2000) AS BIGINT)
FROM d WHERE nl > 120
"""

E15_METADATA = """
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         CAST(doc_id AS VARCHAR) AS ids, text
  FROM documents
)
SELECT did AS doc_id, 'title' AS key, substr(text, 1, 30) AS value FROM d
UNION ALL
SELECT did, 'author', 'writer ' || ids FROM d
"""

E9_IMAGE_DEDUP = """
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did, sha256(text) AS h
  FROM documents
), refs AS (
  SELECT did, 'media-' || substr(h, 1, 2) AS ref, 2 AS cnt FROM d
  UNION ALL
  SELECT did, 'media-' || substr(h, 3, 2), 1 FROM d
)
SELECT ref AS media_ref,
       CAST(SUM(cnt) AS BIGINT) AS n_draws,
       CAST(COUNT(DISTINCT did) AS BIGINT) AS n_docs,
       MIN(did) AS canonical_doc
FROM refs GROUP BY ref
"""

S2_SPLIT_PAGES = """
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         CAST(ceil(len(string_split(text, ' ')) / 8.0) AS BIGINT) AS nl,
         sha256(text) AS h
  FROM documents
), parts AS (
  -- cuts after pages 2 and 5: part0 = pages 1-2 (<= 80 lines),
  -- part1 = pages 3-5 (lines 81..200), part2 = pages 6+; attachments
  -- stick to the last part; media on every completed 3rd page
  SELECT did || '#p0' AS doc_id, 'text' AS kind, LEAST(nl, 80) AS n
  FROM d WHERE nl > 0
  UNION ALL
  SELECT did || '#p1', 'text', LEAST(nl, 200) - 80 FROM d WHERE nl > 80
  UNION ALL
  SELECT did || '#p2', 'text', LEAST(nl - 200, 2000) FROM d WHERE nl > 200
  UNION ALL
  SELECT did || '#p1', 'media', 1 FROM d WHERE nl >= 120
  UNION ALL
  SELECT did || '#p2', 'media', (nl // 40) // 3 - 1
  FROM d WHERE (nl // 40) // 3 > 1
  UNION ALL
  SELECT did || '#p2', 'attachment', 1 FROM d WHERE substr(h, 64, 1) = '0'
)
SELECT doc_id, kind, CAST(n AS BIGINT) AS n_spans FROM parts
"""

H4_MEDIA_RESOLVE = """
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did, sha256(text) AS h
  FROM documents
), refs AS (
  SELECT did, 'media' AS kind, 'media-' || substr(h, 1, 8) AS ref FROM d
  UNION ALL
  SELECT did, 'attachment', 'media-' || substr(h, 9, 8) FROM d
), typed AS (
  -- corpus/media.py: fmt from digest byte[2], size from bytes[0:2]
  SELECT did, kind, ref,
         CAST(concat('0x', substr(sha256(ref), 5, 2)) AS INTEGER) % 4 AS fi,
         256 + CAST(concat('0x', substr(sha256(ref), 1, 4)) AS INTEGER) % 2048
           AS nb
  FROM refs
)
SELECT did AS doc_id, kind, ref AS media_ref,
       (['png', 'jpg', 'gif', 'bin'])[fi + 1] AS fmt,
       CAST(nb AS BIGINT) AS n_bytes
FROM typed
"""

S5_SPLIT_SECTIONS_EXACT = """
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         CAST(ceil(len(string_split(text, ' ')) / 8.0) AS BIGINT) AS nl,
         sha256(text) AS h
  FROM documents
), pages AS (
  SELECT did, nl, unnest(range(1, (nl - 1) // 40 + 2)) AS p
  FROM d WHERE nl > 0
), pl AS (
  SELECT did, nl, p,
         CASE WHEN p * 40 <= nl THEN 40 ELSE nl - (p - 1) * 40 END AS lines
  FROM pages
), secs AS (
  -- 2x2 grid on 612x792: row boundary y=396 -> page lines 0..23 (y =
  -- 72+14m <= 394) land in r0, 24..39 in r1; all text anchors x=72 ->
  -- c0; media anchor (100, 650) -> r1c0; attachments go to the
  -- far-page section
  SELECT did || '#p' || CAST(p AS VARCHAR) || 'r0c0' AS doc_id,
         'text' AS kind, LEAST(lines, 24) AS n
  FROM pl
  UNION ALL
  SELECT did || '#p' || CAST(p AS VARCHAR) || 'r1c0', 'text', lines - 24
  FROM pl WHERE lines > 24
  UNION ALL
  SELECT did || '#p' || CAST(p AS VARCHAR) || 'r1c0', 'media', 1
  FROM pl WHERE p % 3 = 0 AND nl >= p * 40
  UNION ALL
  SELECT did || '#p1073741824r0c0', 'attachment', 1
  FROM d WHERE substr(h, 64, 1) = '0'
)
SELECT doc_id, kind, CAST(n AS BIGINT) AS n_spans FROM secs
"""

E19_BLANK_PAGES = """
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         CAST(ceil(len(string_split(text, ' ')) / 8.0) AS BIGINT) AS nl
  FROM documents
), pp AS (
  SELECT did, nl,
         CAST(CASE WHEN nl = 0 THEN 0 ELSE (nl - 1) // 40 + 1 END AS BIGINT)
           AS np
  FROM d
), pages AS (
  SELECT did, nl, np, unnest(range(1, np + 2)) AS page FROM pp
)
SELECT did AS doc_id,
       CAST(page AS BIGINT) AS page,
       CAST(CASE WHEN page > np THEN 0
                 WHEN page < np THEN 40
                 ELSE nl - 40 * (np - 1) END AS BIGINT) AS n_visible_lines,
       CAST(CASE WHEN page <= np AND page % 3 = 0 AND nl >= page * 40
                 THEN 1 ELSE 0 END AS BIGINT) AS n_media,
       CAST(CASE WHEN page > np THEN 1 ELSE 0 END AS INTEGER) AS is_blank
FROM pages
"""

# ---------------------------------------------------- rich corpus (E18/S4)

E18_TITLE_INFERENCE = """
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         string_split(text, ' ') AS w
  FROM documents
)
SELECT did AS doc_id,
       array_to_string(w[1:6], ' ') AS title,
       CAST(1600 AS BIGINT) AS title_fs_x100,
       CAST(CASE WHEN length(array_to_string(w[1:6], ' ')) < 255
                 THEN 1 ELSE 0 END AS INTEGER) AS usable
FROM d WHERE len(w) > 0
"""

S4_SPLIT_CHAPTERS = """
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         CAST(ceil(len(string_split(text, ' ')) / 8.0) AS BIGINT) AS nl
  FROM documents
), pp AS (
  SELECT did, (nl - 1) // 40 + 1 AS np FROM d WHERE nl > 0
), ch AS (
  SELECT did, np, unnest(range(1, (np + 1) // 2 + 1)) AS k FROM pp
)
SELECT did AS doc_id,
       CAST(k AS BIGINT) AS chapter_no,
       'ch ' || CAST(2*k - 1 AS VARCHAR) AS title,
       CAST(2*k - 1 AS BIGINT) AS start_page,
       CAST(CASE WHEN 2*k >= np THEN np ELSE 2*k END AS BIGINT) AS end_page
FROM ch
"""

_HEX_EVEN = "('0','2','4','6','8','a','c','e')"

E17_FULL_INFO = f"""
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         string_split(text, ' ') AS w,
         sha256(text) AS h,
         CAST(ceil(len(string_split(text, ' ')) / 8.0) AS BIGINT) AS nl
  FROM documents
), base AS (
  SELECT did, w, nl, h,
         (nl - 1) // 40 + 1 AS np,
         length(array_to_string(w[1:6], ' ')) AS title_len
  FROM d WHERE nl > 0
), capped AS (
  -- budget 2000 chunks total; the title takes the first slot
  SELECT did, w, unnest(range(0, LEAST(nl, 1999))) AS i FROM base
), agg AS (
  SELECT did,
         CAST(SUM(length(array_to_string(
           w[CAST(i*8+1 AS BIGINT):CAST(i*8+8 AS BIGINT)], ' '))) AS BIGINT)
           AS body_chars
  FROM capped GROUP BY did
)
SELECT b.did AS doc_id,
       CAST(b.np AS BIGINT) AS n_pages,
       CAST(LEAST(b.nl + 1, 2000) AS BIGINT) AS n_text_spans,
       CAST(b.title_len + a.body_chars AS BIGINT) AS n_text_chars,
       CAST(CASE WHEN b.nl >= 5 THEN 3 ELSE 2 END AS BIGINT) AS n_fonts,
       CASE WHEN b.nl >= 5 THEN 'Courier,Helvetica,Helvetica-Bold'
            ELSE 'Helvetica,Helvetica-Bold' END AS fonts,
       CAST((b.np + 1) // 2 + (b.np + 1) // 4 AS BIGINT) AS n_bookmarks,
       -- annotations: 'Text' on page 1 + every p%3==0 (has contents);
       -- 'Highlight' (no contents) on page 1 for even-leading-hash
       -- docs + every p%5==0
       CAST(1 + b.np // 3 + b.np // 5
            + CASE WHEN substr(b.h, 1, 1) IN {_HEX_EVEN}
                   THEN 1 ELSE 0 END AS BIGINT) AS n_annotations,
       CAST(1 + b.np // 3 AS BIGINT) AS n_annot_contents
FROM base b JOIN agg a USING (did)
"""

EXTRACT_ANNOTATIONS = f"""
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         sha256(text) AS h,
         CAST(ceil(len(string_split(text, ' ')) / 8.0) AS BIGINT) AS nl
  FROM documents
), pp AS (
  SELECT did, h, (nl - 1) // 40 + 1 AS np FROM d WHERE nl > 0
), pg AS (
  SELECT did, h, unnest(range(1, np + 1)) AS p FROM pp
)
SELECT did AS doc_id, CAST(p AS BIGINT) AS page, 'Text' AS subtype,
       'note ' || CAST(p AS VARCHAR) AS contents
FROM pg WHERE p = 1 OR p % 3 = 0
UNION ALL
SELECT did, CAST(p AS BIGINT), 'Highlight', ''
FROM pg
WHERE (p = 1 AND substr(h, 1, 1) IN {_HEX_EVEN}) OR (p > 1 AND p % 5 = 0)
"""


def _hexv(pos: int) -> str:
    """SQL for the value of 1-based hex digit ``pos`` of sha256 hex
    column h — the oracle-side mirror of analysis_from_text's hx()."""
    return f"(strpos('0123456789abcdef', substr(h, {pos}, 1)) - 1)"


# /add-image stamps re-derived from the line-count page model: even
# docs stamp pages 1..n_pages, odd docs page 1 only; screen y =
# 792 - 500 - 80 = 212. Pageless (empty-text) docs stamp nothing.
ADD_IMAGE_STAMP = """
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         CAST(doc_id AS BIGINT) AS num,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE CAST(ceil(len(string_split(text, ' ')) / 8.0)
                        AS BIGINT) END AS nl
  FROM documents
), pg AS (
  SELECT did, num, (nl - 1) // 40 + 1 AS n_pages FROM d WHERE nl > 0
)
SELECT did AS doc_id,
       unnest(range(1, CASE WHEN num % 2 = 0 THEN n_pages + 1
                            ELSE 2 END)) AS page,
       CAST(150.0 AS DOUBLE) AS x, CAST(212.0 AS DOUBLE) AS y,
       CAST(120.0 AS DOUBLE) AS w
FROM pg
"""


# unlock -> fill -> delete over the analysis corpus + planted fields:
# every doc keeps locked0 (unlocked + filled) and cb0 (checked);
# field0 survives untouched where the corpus created >= 1 field
# (hex digit 15 % 3 >= 1); field1 is deleted; the signature field
# survives with its EMPTY value (fill skips signatures)
FORM_FILL_UNLOCK = f"""
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did, sha256(text) AS h,
         string_split(text, ' ') AS w
  FROM documents
)
SELECT did AS doc_id, 'field0' AS name, 'text' AS ftype,
       coalesce(w[1], '') AS value, '' AS flags
FROM d WHERE {_hexv(15)} % 3 >= 1
UNION ALL
SELECT did, 'sig0', 'signature', '', '' FROM d WHERE {_hexv(16)} % 4 = 0
UNION ALL
SELECT did, 'locked0', 'text', 'filledv', '' FROM d
UNION ALL
SELECT did, 'cb0', 'checkbox', 'Yes', '' FROM d
"""


# /form/extract-csv with fill-first: OpenCSV defaults (all cells
# double-quoted, inner quotes doubled, \n endings incl. trailing);
# fields in document order: field0 (filled torture value), field1
# (second corpus word), sig0 (empty signature value)
FORM_FIELDS_CSV = f"""
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did, sha256(text) AS h,
         string_split(text, ' ') AS w
  FROM documents
)
SELECT did AS doc_id,
       '"Field Name","Value"' || chr(10)
       || CASE WHEN {_hexv(15)} % 3 >= 1
               THEN '"field0","csv,""x""' || '"' || chr(10)
               ELSE '' END
       || CASE WHEN {_hexv(15)} % 3 = 2
               THEN '"field1","'
                    || replace(coalesce(w[2], ''), '"', '""')
                    || '"' || chr(10) ELSE '' END
       || CASE WHEN {_hexv(16)} % 4 = 0
               THEN '"sig0",""' || chr(10) ELSE '' END
         AS csv
FROM d
"""


# /add-comments over the bait corpus: spec 1 anchors at the FIRST
# page-1 line whose punctuation-stripped lowercase text contains
# 'classified' (line i -> icon top-left (72, 72+14i), 20x20), else
# the user-space fallback (screen y = 792 - y - h); spec 2 is pure
# coordinates. Every bait doc has a page 1.
ADD_COMMENTS = """
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         ltrim(text || ' classified id ' || CAST(doc_id AS VARCHAR)
               || ' code '
               || CAST(CAST(concat('0x', substr(sha256(text), 1, 8))
                            AS BIGINT) % 100000 AS VARCHAR)) AS t
  FROM documents
), w0 AS (
  SELECT did, string_split(t, ' ') AS w FROM d
), l AS (
  SELECT did, w,
         unnest(range(0, CAST(ceil(len(w) / 8.0) AS BIGINT))) AS i
  FROM w0
), lines AS (
  SELECT did, i,
         array_to_string(w[CAST(i*8+1 AS BIGINT):CAST(i*8+8 AS BIGINT)],
                         ' ') AS line
  FROM l
), m AS (
  SELECT did, MIN(i) AS mi
  FROM lines
  WHERE i < 40
    AND position('classified' IN
          lower(regexp_replace(line, '[^A-Za-z0-9]', '', 'g'))) > 0
  GROUP BY did
), base AS (SELECT DISTINCT did FROM lines)
SELECT base.did AS doc_id, 'note1' AS contents,
       CAST(1 AS BIGINT) AS page,
       CAST(CASE WHEN mi IS NOT NULL THEN 72.0 ELSE 10.0 END
            AS DOUBLE) AS x,
       CAST(CASE WHEN mi IS NOT NULL THEN 72.0 + 14.0 * mi
                 ELSE 52.0 END AS DOUBLE) AS y,
       CAST(CASE WHEN mi IS NOT NULL THEN 20.0 ELSE 30.0 END
            AS DOUBLE) AS w,
       CAST(CASE WHEN mi IS NOT NULL THEN 20.0 ELSE 40.0 END
            AS DOUBLE) AS h,
       'alice' AS author, 's1' AS subject
FROM base LEFT JOIN m ON base.did = m.did
UNION ALL
SELECT did, 'note2', CAST(1 AS BIGINT), CAST(100.0 AS DOUBLE),
       CAST(168.0 AS DOUBLE), CAST(24.0 AS DOUBLE),
       CAST(24.0 AS DOUBLE), 'bob', 's2'
FROM base
"""


# cert-sign / remove-cert-sign / validate-signature state, re-derived
# from the analysis corpus hash digits: even docs carry exactly one
# signature dictionary (sig_no = 1 when the corpus already planted a
# signature field via hex digit 16 % 4 = 0, else 0) plus that many + 1
# signature fields; odd docs lose every signature field and validate
# to no rows (left-join nulls)
SIGNATURE_STATE = f"""
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         CAST(doc_id AS BIGINT) AS num, sha256(text) AS h
  FROM documents
)
SELECT did AS doc_id,
       CAST(CASE WHEN {_hexv(16)} % 4 = 0 THEN 2 ELSE 1 END AS BIGINT)
         AS n_sig_fields,
       CAST(CASE WHEN {_hexv(16)} % 4 = 0 THEN 1 ELSE 0 END AS BIGINT)
         AS sig_no,
       'CN=' || did AS signer_name,
       '2026-01-' || lpad(CAST(num % 28 + 1 AS VARCHAR), 2, '0')
         AS signature_date,
       'approval' AS reason,
       'HQ' AS location,
       CAST(1 AS INTEGER) AS covers_document,
       CAST(1 AS INTEGER) AS valid
FROM d WHERE num % 2 = 0
UNION ALL
SELECT did, CAST(0 AS BIGINT), CAST(NULL AS BIGINT), NULL, NULL, NULL,
       NULL, CAST(NULL AS INTEGER), CAST(NULL AS INTEGER)
FROM d WHERE num % 2 = 1
"""


# analysis corpus (corpus.synth.analysis_from_text): every feature is a
# pure function of sha256(text), re-derived here digit by digit
E16_FORM_FIELDS = f"""
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did, sha256(text) AS h
  FROM documents
)
SELECT did AS doc_id,
       CAST({_hexv(15)} % 3
            + CASE WHEN {_hexv(16)} % 4 = 0 THEN 1 ELSE 0 END
            AS BIGINT) AS field_count,
       CAST(CASE WHEN {_hexv(16)} % 4 = 1 THEN 1 ELSE 0 END AS INTEGER)
         AS has_xfa,
       CAST(CASE WHEN {_hexv(16)} % 4 = 0 THEN 1 ELSE 0 END AS INTEGER)
         AS has_signature,
       CAST(CASE WHEN {_hexv(13)} % 2 = 0 THEN 1 ELSE 0 END AS INTEGER)
         AS is_encrypted,
       CASE WHEN {_hexv(13)} % 2 <> 0 THEN 'none'
            WHEN {_hexv(14)} % 2 = 0 THEN 'AESV3' ELSE 'AESV2' END
         AS encrypt_algorithm,
       CAST(CASE WHEN {_hexv(13)} % 2 <> 0 THEN 0
                 WHEN {_hexv(14)} % 2 = 0 THEN 256 ELSE 128 END AS BIGINT)
         AS encrypt_keylen
FROM d
"""

# S11 metadata update over the analysis corpus: 'title' deleted,
# 'producer' added, everything else passes through — re-derived from
# the same hash digits as analysis_from_text
S11_METADATA_UPDATE = f"""
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did, sha256(text) AS h
  FROM documents
), base AS (
  SELECT did, h,
         1600000000 + CAST(concat('0x', substr(h, 1, 8)) AS BIGINT)
           % 10000000 AS created
  FROM d
)
SELECT did AS doc_id, 'created' AS key,
       CAST(created AS VARCHAR) AS value FROM base
UNION ALL
SELECT did, 'modified',
       CAST(created + CAST(concat('0x', substr(h, 9, 4)) AS BIGINT)
            AS VARCHAR) FROM base
UNION ALL
SELECT did, 'is_encrypted',
       CASE WHEN {_hexv(13)} % 2 = 0 THEN 'true' ELSE 'false' END
FROM base
UNION ALL
SELECT did, 'encrypt_algorithm',
       CASE WHEN {_hexv(14)} % 2 = 0 THEN 'AESV3' ELSE 'AESV2' END
FROM base WHERE {_hexv(13)} % 2 = 0
UNION ALL
SELECT did, 'encrypt_keylen',
       CASE WHEN {_hexv(14)} % 2 = 0 THEN '256' ELSE '128' END
FROM base WHERE {_hexv(13)} % 2 = 0
UNION ALL
SELECT did, 'encrypt_revision',
       CASE WHEN {_hexv(14)} % 2 = 0 THEN '6' ELSE '4' END
FROM base WHERE {_hexv(13)} % 2 = 0
UNION ALL
SELECT did, 'perm_can_print',
       CASE WHEN {_hexv(14)} % 2 = 0 THEN 'false' ELSE 'true' END
FROM base WHERE {_hexv(13)} % 2 = 0
UNION ALL
SELECT did, 'acroform_xfa', 'true'
FROM base WHERE {_hexv(16)} % 4 = 1
UNION ALL
SELECT did, 'producer', 'spark-extract' FROM base
"""

_MERGE_KEYS_CTE = """
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         CAST(doc_id AS BIGINT) AS num,
         sha256(text) AS h,
         string_split(text, ' ') AS w,
         -- empty/whitespace-only text yields ZERO lines (DuckDB's
         -- string_split('', ' ') is [''], which would fake nl = 1 and
         -- shift every later doc's pages)
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE CAST(ceil(len(string_split(text, ' ')) / 8.0) AS BIGINT)
         END AS nl
  FROM documents
), k AS (
  SELECT did, num,
         1600000000 + CAST(concat('0x', substr(h, 1, 8)) AS BIGINT)
           % 10000000
           + CAST(concat('0x', substr(h, 9, 4)) AS BIGINT) AS modified,
         lower(array_to_string(w[1:4], ' ')) AS title_ci,
         CASE WHEN nl = 0 THEN 0 ELSE (nl - 1) // 40 + 1 END AS np
  FROM d
)
"""

S1_MERGE_BY_DATE = _MERGE_KEYS_CTE + """
SELECT did AS doc_id,
       CAST(ROW_NUMBER() OVER (ORDER BY modified DESC, num, did)
            AS BIGINT) AS doc_pos,
       CAST(COALESCE(SUM(np) OVER (
              ORDER BY modified DESC, num, did
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS page_shift
FROM k
"""

S1_MERGE_BY_TITLE = _MERGE_KEYS_CTE + """
SELECT did AS doc_id,
       CAST(ROW_NUMBER() OVER (ORDER BY title_ci ASC, num, did)
            AS BIGINT) AS doc_pos,
       CAST(COALESCE(SUM(np) OVER (
              ORDER BY title_ci ASC, num, did
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS page_shift
FROM k
"""

# repeat corpus (docs_repeat_from_documents, times=32): text repeated
# 32x space-joined == repeat(text || ' ', 32) rtrimmed; 8 words/line
# makes the line count EXACTLY 4 * n_words
_REPEAT_DOCS_CTE = """
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         string_split(rtrim(repeat(text || ' ', 32)), ' ') AS w
  FROM documents WHERE length(trim(text)) > 0
), b AS (
  SELECT did, w, CAST(ceil(len(w) / 8.0) AS BIGINT) AS nl,
         (CAST(ceil(len(w) / 8.0) AS BIGINT) - 1) // 40 + 1 AS np
  FROM d
)
"""

# slot q's source page, then that page's lines at the slot's running
# line offset — the model of extraction reading the permuted doc
_SLOT_LINES = """
, cnt AS (
  SELECT did, w, nl, q, sp,
         LEAST(40, nl - (sp - 1) * 40) AS lines_in,
         COALESCE(SUM(LEAST(40, nl - (sp - 1) * 40)) OVER (
             PARTITION BY did ORDER BY q
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS base
  FROM src
), lines AS (
  SELECT did, w, base, sp, unnest(range(0, lines_in)) AS j FROM cnt
)
SELECT did AS doc_id, CAST(base + j AS BIGINT) AS text_rank,
       array_to_string(
         w[CAST(((sp-1)*40 + j)*8 + 1 AS BIGINT)
           :CAST(((sp-1)*40 + j)*8 + 8 AS BIGINT)], ' ') AS text
FROM lines WHERE base + j < 2000
"""

S6_SIDE_STITCH_EXTRACT = _REPEAT_DOCS_CTE + """
, slots AS (
  SELECT did, w, nl, np, unnest(range(1, 4 * ((np + 3) // 4) + 1)) AS q
  FROM b
), src AS (
  -- group emit order [begin+4, begin+1, begin+2, begin+3], sources
  -- past np clamped to the last page (sideStitchBooklet Math.min)
  SELECT did, w, nl, q,
         LEAST(4 * ((q - 1) // 4)
               + CASE WHEN (q - 1) % 4 = 0 THEN 4 ELSE (q - 1) % 4 END,
               np) AS sp
  FROM slots
)
""" + _SLOT_LINES

S6_CUSTOM_ORDER_EXTRACT = _REPEAT_DOCS_CTE + """
, slots AS (
  SELECT did, w, nl, np, unnest(range(1, (np + 1) // 2 + 1)) AS q FROM b
), src AS (
  -- page order '2n-1': odd pages ascending, evens dropped
  SELECT did, w, nl, q, 2 * q - 1 AS sp FROM slots
)
""" + _SLOT_LINES

E3_DOC_CLASSIFICATION = _REPEAT_DOCS_CTE + """
-- media draws land on every COMPLETED 3rd page (synth_from_text), so
-- a doc classifies MIXED iff it completes >= 3 pages
SELECT did AS doc_id,
       CASE WHEN (nl // 40) // 3 > 0 THEN 'MIXED' ELSE 'TEXT' END
         AS doc_class
FROM b
"""

S8_OVERLAY_EXTRACT = _REPEAT_DOCS_CTE + """
, l AS (
  SELECT did, w, nl, unnest(range(0, nl)) AS i FROM b
), lines AS (
  -- one overlay line precedes every later page: rank = i + page_index
  SELECT did, CAST(i + i // 40 AS BIGINT) AS text_rank,
         array_to_string(w[CAST(i*8+1 AS BIGINT):CAST(i*8+8 AS BIGINT)], ' ')
           AS text
  FROM l
), pages AS (
  SELECT did, nl, unnest(range(1, np + 1)) AS p FROM b
), ovs AS (
  -- SequentialOverlay, one 2-page overlay doc: base page p takes
  -- overlay page ((p-1) % 2) + 1; the overlay line sits at y=760,
  -- below the body block, so it closes each page's reading order
  SELECT did,
         CAST(41 * (p - 1)
              + CASE WHEN p * 40 <= nl THEN 40 ELSE nl - (p - 1) * 40 END
              AS BIGINT) AS text_rank,
         CASE WHEN (p - 1) % 2 = 0 THEN 'OVERLAY A'
              ELSE 'OVERLAY B' END AS text
  FROM pages
)
SELECT did AS doc_id, text_rank, text FROM lines WHERE text_rank < 2000
UNION ALL
SELECT did, text_rank, text FROM ovs WHERE text_rank < 2000
"""

# per-page info blocks (GetInfoOnPDF.java:800-1037) over the REPEATED
# INFO corpus: body = 8-words/line pages, +16pt title line on page 1,
# Courier on every 5th body line (page-local offsets 0..cnt-1 include
# offset 4 iff cnt >= 5 since 40 % 5 == 0), annotations as in
# rich_from_text, plus the info_from_text layers — Links (2 sharing a
# URI on even pages + a distinct one on p%4==0; unique-URI set), Image
# XObjects (1 + p%2 distinct refs on p%3==0, first drawn twice but
# resource names count once), Form XObjects (p%4==3), RichMedia
# (page 1 iff hex digit 2 even, plus p>1 with p%7==0; contents
# non-empty so they also count in the contents tally, links don't)
E17_PAGE_INFO = f"""
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         string_split(rtrim(repeat(text || ' ', 32)), ' ') AS w,
         -- rich_from_text hashes ITS input, i.e. the repeated text
         sha256(rtrim(repeat(text || ' ', 32))) AS h
  FROM documents WHERE length(trim(text)) > 0
), b AS (
  SELECT did, w, h, CAST(ceil(len(w) / 8.0) AS BIGINT) AS nl,
         (CAST(ceil(len(w) / 8.0) AS BIGINT) - 1) // 40 + 1 AS np,
         length(array_to_string(w[1:6], ' ')) AS title_len
  FROM d
), pg AS (
  SELECT did, w, h, nl, np, title_len, unnest(range(1, np + 1)) AS p
  FROM b
), per AS (
  SELECT did, h, np, title_len, p,
         LEAST(40, nl - (p - 1) * 40) AS cnt
  FROM pg
), chars AS (
  SELECT pg.did, pg.p,
         CAST(SUM(length(array_to_string(
           w[CAST(((p-1)*40 + j)*8 + 1 AS BIGINT)
             :CAST(((p-1)*40 + j)*8 + 8 AS BIGINT)], ' '))) AS BIGINT)
           AS body_chars
  FROM (SELECT did, w, p, unnest(range(0, LEAST(40, nl - (p-1)*40))) AS j
        FROM pg) pg
  GROUP BY pg.did, pg.p
)
SELECT per.did AS doc_id,
       CAST(per.p AS BIGINT) AS page,
       CAST(per.cnt + CASE WHEN per.p = 1 THEN 1 ELSE 0 END AS BIGINT)
         AS n_lines,
       CAST(c.body_chars
            + CASE WHEN per.p = 1 THEN per.title_len ELSE 0 END AS BIGINT)
         AS n_chars,
       CAST(1 + CASE WHEN per.p = 1 THEN 1 ELSE 0 END
              + CASE WHEN per.cnt >= 5 THEN 1 ELSE 0 END AS BIGINT)
         AS n_fonts,
       CAST(CASE WHEN per.p = 1 OR per.p % 3 = 0 THEN 1 ELSE 0 END
            + CASE WHEN (per.p = 1 AND substr(per.h, 1, 1) IN {_HEX_EVEN})
                     OR (per.p > 1 AND per.p % 5 = 0)
                   THEN 1 ELSE 0 END
            + CASE WHEN per.p % 2 = 0 THEN 2 ELSE 0 END
            + CASE WHEN per.p % 4 = 0 THEN 1 ELSE 0 END
            + CASE WHEN (per.p = 1 AND substr(per.h, 2, 1) IN {_HEX_EVEN})
                     OR (per.p > 1 AND per.p % 7 = 0)
                   THEN 1 ELSE 0 END AS BIGINT) AS n_annotations,
       CAST(CASE WHEN per.p = 1 OR per.p % 3 = 0 THEN 1 ELSE 0 END
            + CASE WHEN (per.p = 1 AND substr(per.h, 2, 1) IN {_HEX_EVEN})
                     OR (per.p > 1 AND per.p % 7 = 0)
                   THEN 1 ELSE 0 END AS BIGINT) AS n_annot_contents,
       CAST(CASE WHEN per.p % 2 = 0 THEN 1 ELSE 0 END
            + CASE WHEN per.p % 4 = 0 THEN 1 ELSE 0 END AS BIGINT)
         AS n_links,
       CAST(CASE WHEN per.p % 3 = 0 THEN 1 + per.p % 2 ELSE 0 END
            AS BIGINT) AS n_xobj_image,
       CAST(CASE WHEN per.p % 4 = 3 THEN 1 ELSE 0 END AS BIGINT)
         AS n_xobj_form,
       CAST(CASE WHEN (per.p = 1 AND substr(per.h, 2, 1) IN {_HEX_EVEN})
                   OR (per.p > 1 AND per.p % 7 = 0)
                 THEN 1 ELSE 0 END AS BIGINT) AS n_multimedia
FROM per JOIN chars c ON per.did = c.did AND per.p = c.p
"""

TEXT_TFIDF_TOPK = """
WITH toks AS (
  SELECT doc_id AS id, unnest(string_split(text, ' ')) AS term
  FROM documents
), tf AS (
  SELECT id, term, CAST(count(*) AS BIGINT) AS tf
  FROM toks WHERE term <> '' GROUP BY id, term
), dfreq AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
), scored AS (
  SELECT tf.id, tf.term, tf.tf, dfreq.df,
         tf.tf * 1000000 // dfreq.df AS score
  FROM tf JOIN dfreq USING (term)
), ranked AS (
  SELECT id, term, tf, df,
         CAST(ROW_NUMBER() OVER (PARTITION BY id
              ORDER BY score DESC, term ASC) AS BIGINT) AS rank
  FROM scored
)
SELECT id, term, tf, df, rank FROM ranked WHERE rank <= 3
"""

# Deterministic source-mixture sampling: weight (in 1/64ths) cycles
# [1.0x, 0.5x, 0.25x, 2.0x] by source index % 4; a doc emits
# floor(w/64) copies + 1 more iff its 2-hex-digit md5 bucket (0..255)
# < 4x the fractional remainder. Mirrors textstats.domain_mix_sample.
DOMAIN_MIX_SAMPLE = """
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS id, source,
         CAST(regexp_extract(source, '(\\d+)$', 1) AS INTEGER) AS si,
         CAST(concat('0x', substr(md5('doc-' || CAST(doc_id AS VARCHAR)),
              1, 2)) AS INTEGER) AS b
  FROM documents
), w AS (
  SELECT id, source AS domain, b,
         ([64, 32, 16, 128])[(si % 4) + 1] AS w64
  FROM d
), n AS (
  SELECT id, domain,
         w64 // 64 + CASE WHEN b < (w64 % 64) * 4 THEN 1 ELSE 0 END AS nc
  FROM w
)
SELECT id, domain, CAST(t.c AS INTEGER) AS copy_idx
FROM n, unnest(range(0, nc)) AS t(c)
"""

# Corpus vocabulary census (tokenizer-training head): whitespace
# terms ranked by total count desc, term asc; top 50.
VOCAB_TOPK = """
WITH t AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), c AS (
  SELECT term, CAST(count(*) AS BIGINT) AS n_total,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM t WHERE term <> '' GROUP BY term
), r AS (
  SELECT term, n_total, n_docs,
         CAST(row_number() OVER (ORDER BY n_total DESC, term ASC)
              AS BIGINT) AS rank
  FROM c
)
SELECT rank, term, n_total, n_docs FROM r WHERE rank <= 50
"""

# Self-trained bigram-model corpus fit (integer-exact KenLM-style
# signal): per doc, avg_i((1000 * c(w1w2)) div c(w1 .)) div n.
BIGRAM_LM_FIT = """
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS id,
         string_split(text, ' ') AS w
  FROM documents
), g AS (
  SELECT id, w[i] AS w1, w[i] || ' ' || w[i + 1] AS gm
  FROM d, unnest(range(1, len(w))) AS t(i)
  WHERE len(w) >= 2
), c12 AS (
  SELECT gm, count(*) AS c12 FROM g GROUP BY gm
), c1 AS (
  SELECT w1, count(*) AS c1 FROM g GROUP BY w1
), s AS (
  SELECT g.id, CAST(count(*) AS BIGINT) AS n_bigrams,
         SUM((1000 * c12.c12) // c1.c1) AS p_sum
  FROM g JOIN c12 USING (gm) JOIN c1 USING (w1)
  GROUP BY g.id
)
SELECT d.id, COALESCE(s.n_bigrams, 0) AS n_bigrams,
       CAST(COALESCE(s.p_sum // s.n_bigrams, 0) AS BIGINT) AS fit_x1000
FROM d LEFT JOIN s ON d.id = s.id
"""


# CCNet-style head/tail partition at the corpus-mean LM fit, integer
# cross-multiplied so both engines decide each doc exactly.
LM_QUALITY_PARTITION = f"""
WITH base AS ({BIGRAM_LM_FIT})
SELECT id, fit_x1000,
       CAST(CASE WHEN fit_x1000 * (SELECT count(*) FROM base)
                      >= (SELECT sum(fit_x1000) FROM base)
                 THEN 1 ELSE 0 END AS BIGINT) AS head
FROM base
"""

# Gopher rules (Rae et al. 2021 table A1) over the crafted corpus:
# doc_id%4 tails exercise bullet-ratio (10 bullet lines), ellipsis
# line-ends, and symbol-ratio failures; every ratio is an integer
# cross-multiplication shared verbatim with the engine.
GOPHER_QUALITY = r"""
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS id,
         text || CASE CAST(doc_id AS BIGINT) % 4
           WHEN 1 THEN chr(10) || '- a' || chr(10) || '- b' || chr(10) || '- c' || chr(10) || '- d' || chr(10) || '- e' || chr(10) || '- f' || chr(10) || '- g' || chr(10) || '- h' || chr(10) || '- i' || chr(10) || '- j'
           WHEN 2 THEN chr(10) || 'wait...' || chr(10) || 'more...'
           WHEN 3 THEN ' ## ## ##'
           ELSE '' END AS t2
  FROM documents
), f AS (
  SELECT id, t2,
         string_split_regex(t2, '\s+') AS w,
         string_split(t2, chr(10)) AS lines
  FROM d
), m AS (
  SELECT id,
         CAST(len(w) AS BIGINT) AS n,
         CAST(list_aggregate(list_transform(w, x -> length(x)), 'sum')
              AS BIGINT) AS chars,
         CAST(length(t2) - length(replace(t2, '#', ''))
              AS BIGINT) AS n_hash,
         CAST(len(regexp_extract_all(t2, '\.\.\.'))
              AS BIGINT) AS n_ell,
         CAST(len(lines) AS BIGINT) AS n_lines,
         CAST(len(list_filter(lines,
              x -> regexp_matches(x, '^\s*[-*]'))) AS BIGINT) AS bullets,
         CAST(len(list_filter(lines,
              x -> regexp_matches(x, '\.\.\.$'))) AS BIGINT) AS ell_ends,
         CAST(len(list_filter(w,
              x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS alpha,
         CAST(len(list_intersect(list_distinct(w),
              ['the','be','to','of','and','that','have','with']))
              AS BIGINT) AS n_stop
  FROM f
), r AS (
  SELECT id, n,
    CASE WHEN n >= 50 AND n <= 100000 THEN 1 ELSE 0 END AS r_wc,
    CASE WHEN 3 * n <= chars AND chars <= 10 * n THEN 1 ELSE 0 END AS r_mwl,
    CASE WHEN 10 * (n_hash + n_ell) <= n THEN 1 ELSE 0 END AS r_sym,
    CASE WHEN 10 * bullets <= 9 * n_lines THEN 1 ELSE 0 END AS r_bullet,
    CASE WHEN 10 * ell_ends <= 3 * n_lines THEN 1 ELSE 0 END AS r_ell,
    CASE WHEN 5 * alpha >= 4 * n THEN 1 ELSE 0 END AS r_alpha,
    CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS r_stop
  FROM m
)
SELECT id, n AS n_words,
       CAST(r_wc AS BIGINT) AS r_wc, CAST(r_mwl AS BIGINT) AS r_mwl,
       CAST(r_sym AS BIGINT) AS r_sym,
       CAST(r_bullet AS BIGINT) AS r_bullet,
       CAST(r_ell AS BIGINT) AS r_ell,
       CAST(r_alpha AS BIGINT) AS r_alpha,
       CAST(r_stop AS BIGINT) AS r_stop,
       CAST(r_wc * r_mwl * r_sym * r_bullet * r_ell * r_alpha * r_stop
            AS BIGINT) AS keep
FROM r
"""

TEXT_HASH_SAMPLE = """
SELECT doc_id AS id,
       CAST(concat('0x', substr(md5(text), 1, 4)) AS BIGINT) AS bucket
FROM documents
WHERE CAST(concat('0x', substr(md5(text), 1, 4)) AS BIGINT) * 100
      < 10 * 65536
"""


def _dhash_sql() -> str:
    """Visual near-dup oracle: re-derive every fixture's 72 cell bits
    (group base pattern + the ref's stride-7 flips — corpus.media
    .dhash_cell_bits digit for digit), fold them into the 64-bit dHash
    as two 32-bit halves, and brute-force ALL pairs at Hamming <= 7 —
    which equals the engine's banded-LSH output exactly (8 bands of 8
    bits: 7 differing bits cannot touch every band)."""
    def term(bi: int, base: int) -> str:
        r, c = bi // 8, bi % 8
        left, right = r * 9 + c + 1, r * 9 + c + 2  # 1-based list idx
        return (f"(CASE WHEN lb[{right}] > lb[{left}]"
                f" THEN {1 << (bi - base)} ELSE 0 END)")

    lo = " + ".join(term(bi, 0) for bi in range(32))
    hi = " + ".join(term(bi, 32) for bi in range(32, 64))
    hexb9 = ("((strpos('0123456789abcdef', substr(h, 9, 1)) - 1) * 16"
             " + (strpos('0123456789abcdef', substr(h, 10, 1)) - 1))")
    hexb11 = ("((strpos('0123456789abcdef', substr(h, 11, 1)) - 1) * 16"
              " + (strpos('0123456789abcdef', substr(h, 12, 1)) - 1))")
    hexb13 = ("((strpos('0123456789abcdef', substr(h, 13, 1)) - 1) * 16"
              " + (strpos('0123456789abcdef', substr(h, 14, 1)) - 1))")
    return f"""
WITH d AS (
  SELECT DISTINCT 'media-' || substr(sha256(text), 1, 8) AS ref
  FROM documents
), hh AS (
  SELECT ref, sha256(ref) AS h FROM d
), par AS (
  SELECT ref, {hexb9} % 32 AS g, {hexb11} % 5 AS k, {hexb13} % 72 AS fb
  FROM hh
), cellraw AS (
  -- byte parity of sha256('dhg:g:c') = parity of its 2nd hex digit
  SELECT p.ref, t.c, p.k, p.fb,
         (strpos('0123456789abcdef',
                 substr(sha256('dhg:' || CAST(p.g AS VARCHAR) || ':'
                               || CAST(t.c AS VARCHAR)), 2, 1)) - 1) % 2
           AS bb
  FROM par p CROSS JOIN (SELECT unnest(range(0, 72)) AS c) t
), cell AS (
  SELECT ref, c,
         CASE WHEN (((c - fb) % 72 + 72) % 72) < 7 * k
                   AND ((((c - fb) % 72 + 72) % 72) % 7) = 0
              THEN 1 - bb ELSE bb END AS bit
  FROM cellraw
), lbs AS (
  SELECT ref, list(bit ORDER BY c) AS lb FROM cell GROUP BY ref
), hv AS (
  SELECT ref, CAST({lo} AS BIGINT) AS lo, CAST({hi} AS BIGINT) AS hi
  FROM lbs
)
SELECT a.ref AS id_a, b.ref AS id_b,
       CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
            AS BIGINT) AS distance
FROM hv a JOIN hv b ON a.ref < b.ref
WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 7
"""


DEDUP_IMAGE_DHASH = _dhash_sql()


def _ahash_sql() -> str:
    """Average-hash oracle: re-derive each fixture's 64 cell bits
    (group base pattern + the ref's stride-7 flips -
    corpus.media.ahash_cell_bits digit for digit), zero the hash when
    the grid is all-bright (cell > global mean fails everywhere when
    all cells are equal), fold into two 32-bit halves and brute-force
    ALL pairs at Hamming <= 7 - identical to the engine's banded LSH
    by the same 8x8-band pigeonhole as the dHash gate."""
    def term(bi: int, base: int) -> str:
        return (f"(CASE WHEN lb[{bi + 1}] = 1"
                f" THEN {1 << (bi - base)} ELSE 0 END)")

    lo = " + ".join(term(bi, 0) for bi in range(32))
    hi = " + ".join(term(bi, 32) for bi in range(32, 64))
    hexb9 = ("((strpos('0123456789abcdef', substr(h, 9, 1)) - 1) * 16"
             " + (strpos('0123456789abcdef', substr(h, 10, 1)) - 1))")
    hexb11 = ("((strpos('0123456789abcdef', substr(h, 11, 1)) - 1) * 16"
              " + (strpos('0123456789abcdef', substr(h, 12, 1)) - 1))")
    hexb13 = ("((strpos('0123456789abcdef', substr(h, 13, 1)) - 1) * 16"
              " + (strpos('0123456789abcdef', substr(h, 14, 1)) - 1))")
    return f"""
WITH d AS (
  SELECT DISTINCT 'media-' || substr(sha256(text), 1, 8) AS ref
  FROM documents
), hh AS (
  SELECT ref, sha256(ref) AS h FROM d
), par AS (
  SELECT ref, {hexb9} % 32 AS g, {hexb11} % 5 AS k, {hexb13} % 64 AS fb
  FROM hh
), cellraw AS (
  SELECT p.ref, t.c, p.k, p.fb,
         (strpos('0123456789abcdef',
                 substr(sha256('ahg:' || CAST(p.g AS VARCHAR) || ':'
                               || CAST(t.c AS VARCHAR)), 2, 1)) - 1) % 2
           AS bb
  FROM par p CROSS JOIN (SELECT unnest(range(0, 64)) AS c) t
), cell AS (
  SELECT ref, c,
         CASE WHEN (((c - fb) % 64 + 64) % 64) < 7 * k
                   AND ((((c - fb) % 64 + 64) % 64) % 7) = 0
              THEN 1 - bb ELSE bb END AS bit
  FROM cellraw
), lbs AS (
  SELECT ref, list(bit ORDER BY c) AS lb, sum(bit) AS ones
  FROM cell GROUP BY ref
), hv AS (
  SELECT ref,
         CASE WHEN ones = 64 THEN 0
              ELSE CAST({lo} AS BIGINT) END AS lo,
         CASE WHEN ones = 64 THEN 0
              ELSE CAST({hi} AS BIGINT) END AS hi
  FROM lbs
)
SELECT a.ref AS id_a, b.ref AS id_b,
       CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
            AS BIGINT) AS distance
FROM hv a JOIN hv b ON a.ref < b.ref
WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 7
"""


DEDUP_IMAGE_AHASH = _ahash_sql()


def _phash_sql() -> str:
    """DCT perceptual-hash oracle: the fixtures are SYNTHESIZED in
    the DCT domain (corpus.media.phash_payload_for_ref — inverse DCT
    of +/-A coefficients whose signs are pure sha256 functions, with
    a generator-side guarantee that integer rounding preserves every
    sign), so the oracle never runs a DCT: it re-derives the 63 sign
    bits (group base pattern 'phg:{g}:{c}' + the ref's stride-7
    flips, digit for digit like the dHash/aHash oracles), folds them
    into 32+31-bit halves, and brute-forces ALL pairs at Hamming <= 6
    — equal to the engine's banded LSH by pigeonhole (7 bands of 9
    bits: 6 differing bits cannot touch every band)."""
    def term(bi: int, base: int) -> str:
        return (f"(CASE WHEN lb[{bi + 1}] = 1"
                f" THEN {1 << (bi - base)} ELSE 0 END)")

    lo = " + ".join(term(bi, 0) for bi in range(32))
    hi = " + ".join(term(bi, 32) for bi in range(32, 63))
    hexb9 = ("((strpos('0123456789abcdef', substr(h, 9, 1)) - 1) * 16"
             " + (strpos('0123456789abcdef', substr(h, 10, 1)) - 1))")
    hexb11 = ("((strpos('0123456789abcdef', substr(h, 11, 1)) - 1) * 16"
              " + (strpos('0123456789abcdef', substr(h, 12, 1)) - 1))")
    hexb13 = ("((strpos('0123456789abcdef', substr(h, 13, 1)) - 1) * 16"
              " + (strpos('0123456789abcdef', substr(h, 14, 1)) - 1))")
    return f"""
WITH d AS (
  SELECT DISTINCT 'media-' || substr(sha256(text), 1, 8) AS ref
  FROM documents
), hh AS (
  SELECT ref, sha256(ref) AS h FROM d
), par AS (
  SELECT ref, {hexb9} % 32 AS g, {hexb11} % 5 AS k, {hexb13} % 63 AS fb
  FROM hh
), cellraw AS (
  SELECT p.ref, t.c, p.k, p.fb,
         (strpos('0123456789abcdef',
                 substr(sha256('phg:' || CAST(p.g AS VARCHAR) || ':'
                               || CAST(t.c AS VARCHAR)), 2, 1)) - 1) % 2
           AS bb
  FROM par p CROSS JOIN (SELECT unnest(range(0, 63)) AS c) t
), cell AS (
  SELECT ref, c,
         CASE WHEN (((c - fb) % 63 + 63) % 63) < 7 * k
                   AND ((((c - fb) % 63 + 63) % 63) % 7) = 0
              THEN 1 - bb ELSE bb END AS bit
  FROM cellraw
), lbs AS (
  SELECT ref, list(bit ORDER BY c) AS lb FROM cell GROUP BY ref
), hv AS (
  SELECT ref, CAST({lo} AS BIGINT) AS lo, CAST({hi} AS BIGINT) AS hi
  FROM lbs
)
SELECT a.ref AS id_a, b.ref AS id_b,
       CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
            AS BIGINT) AS distance
FROM hv a JOIN hv b ON a.ref < b.ref
WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 6
"""


DEDUP_IMAGE_PHASH = _phash_sql()


def _image_quality_sql() -> str:
    """Image quality-stats oracle over the PPM+PNG raster subset
    (decoded RGB = the deterministic 'px:' stream byte for byte; BMP
    is excluded because its decode reorders rows/channels): regrow
    the stream from sha256 hex digests, fold BT.601 integer luma per
    pixel, aggregate exact sums, and restate the engine's integer
    flag rules including the corpus-mean outlier test."""
    b1 = _hexb(1)
    b3 = _hexb(3)
    b5 = _hexb(5)
    return f"""
WITH d AS (
  SELECT DISTINCT 'media-' || substr(sha256(text), 1, 8) AS ref
  FROM documents
), dims AS (
  SELECT ref, 4 + {b3} % 29 AS w, 4 + {b5} % 29 AS hgt
  FROM (SELECT ref, sha256(ref) AS h FROM d)
  WHERE {b1} % 3 <> 1
), digests AS (
  SELECT dims.ref, t.di,
         sha256('px:' || dims.ref || ':' || CAST(t.di AS VARCHAR)) AS dh
  FROM dims CROSS JOIN (SELECT unnest(range(0, 96)) AS di) t
  WHERE t.di * 32 < 3 * w * hgt
), bytes AS (
  SELECT g.ref, t.j,
         ((strpos('0123456789abcdef',
                  substr(g.dh, (t.j % 32) * 2 + 1, 1)) - 1) * 16
          + (strpos('0123456789abcdef',
                    substr(g.dh, (t.j % 32) * 2 + 2, 1)) - 1)) AS b
  FROM digests g
  JOIN (SELECT unnest(range(0, 3072)) AS j) t
    ON t.j // 32 = g.di
  JOIN dims ON dims.ref = g.ref AND t.j < 3 * dims.w * dims.hgt
), px AS (
  SELECT ref, j // 3 AS q,
         (299 * max(CASE WHEN j % 3 = 0 THEN b END)
          + 587 * max(CASE WHEN j % 3 = 1 THEN b END)
          + 114 * max(CASE WHEN j % 3 = 2 THEN b END)) // 1000 AS lum
  FROM bytes GROUP BY ref, j // 3
), st AS (
  SELECT px.ref, dims.w, dims.hgt,
         CAST(count(*) AS BIGINT) AS n_px,
         CAST(sum(lum) AS BIGINT) AS sum_luma,
         CAST(sum(lum * lum) AS BIGINT) AS ssq_luma,
         CAST(min(lum) AS INTEGER) AS min_luma,
         CAST(max(lum) AS INTEGER) AS max_luma
  FROM px JOIN dims ON dims.ref = px.ref
  GROUP BY px.ref, dims.w, dims.hgt
), corpus AS (
  SELECT sum(sum_luma) AS tot_sum, sum(n_px) AS tot_n FROM st
), fl AS (
  SELECT st.*,
         (1000 * sum_luma) // n_px AS mean_x1000,
         (1000 * tot_sum) // tot_n AS gmean_x1000,
         CASE WHEN sum_luma < 40 * n_px THEN 1 ELSE 0 END AS dark,
         CASE WHEN sum_luma > 215 * n_px THEN 1 ELSE 0 END AS bright,
         CASE WHEN n_px * ssq_luma - sum_luma * sum_luma
                   < 64 * n_px * n_px THEN 1 ELSE 0 END AS flat,
         CASE WHEN abs((1000 * sum_luma) // n_px
                       - (1000 * tot_sum) // tot_n) > 10000
              THEN 1 ELSE 0 END AS outlier
  FROM st CROSS JOIN corpus
)
SELECT ref AS media_ref,
       CAST(w AS INTEGER) AS width, CAST(hgt AS INTEGER) AS height,
       n_px, sum_luma, ssq_luma, min_luma, max_luma,
       CAST(mean_x1000 AS BIGINT) AS mean_x1000,
       CAST(dark AS BIGINT) AS dark, CAST(bright AS BIGINT) AS bright,
       CAST(flat AS BIGINT) AS flat,
       CAST(outlier AS BIGINT) AS outlier,
       CAST(CASE WHEN dark + bright + flat + outlier = 0
                 THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM fl
"""



# visual keep-list: transitive closure over the pHash pair set (the
# same sha-derived pair oracle), representative = min ref
IMAGE_DEDUP_KEEP = f"""
WITH RECURSIVE p AS ({DEDUP_IMAGE_PHASH}),
e AS (
  SELECT id_a AS src, id_b AS dst FROM p
  UNION
  SELECT id_b, id_a FROM p
),
refs AS (
  SELECT DISTINCT 'media-' || substr(sha256(text), 1, 8) AS ref
  FROM documents
),
reach(a, b) AS (
  SELECT ref, ref FROM refs
  UNION
  SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src
),
comp AS (
  SELECT a AS ref, MIN(b) AS component FROM reach GROUP BY a
)
SELECT ref AS media_ref,
       CAST(COUNT(*) OVER (PARTITION BY component) - 1 AS BIGINT)
         AS n_absorbed
FROM comp
QUALIFY ref = component
"""


# /analysis/font-info over the rich corpus: Helvetica body +
# Helvetica-Bold title always; Courier appears on every 5th body line,
# i.e. once ceil(n_words/8) >= 5 (n_words >= 33).
ANALYSIS_FONT_INFO = """
WITH d AS (SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
                  len(string_split(text, ' ')) AS n
           FROM documents)
SELECT did AS doc_id,
       CAST(CASE WHEN n >= 33 THEN 3 ELSE 2 END AS BIGINT) AS font_count,
       CASE WHEN n >= 33 THEN 'Courier,Helvetica,Helvetica-Bold'
            ELSE 'Helvetica,Helvetica-Bold' END AS fonts
FROM d
"""

# URL canonicalization: per-branch closed forms of the three crafted
# variants (scheme/host case-fold, :443/:80 drop, fragment drop,
# tracking-param strip keeping case-sensitive 'REF=up', bare-www
# scheme promotion, empty path -> '/').
URL_NORMALIZE = """
WITH d AS (SELECT doc_id AS n, 'doc-' || CAST(doc_id AS VARCHAR) AS did
           FROM documents)
SELECT did AS id,
       'HTTPS://Site' || (n % 7) || '.Example.COM:443/Path/' || n
         || '?utm_source=x&id=' || n || '&fbclid=1#frag' AS url,
       'https://site' || (n % 7) || '.example.com/Path/' || n
         || '?id=' || n AS canon_url
FROM d
UNION ALL
SELECT did,
       'http://www.Mirror' || (n % 5) || '.ORG:80?utm_campaign=z',
       'http://www.mirror' || (n % 5) || '.org/'
FROM d
UNION ALL
SELECT did,
       'www.Bare' || (n % 3) || '.net/x?ref=home&q=1&REF=up',
       'http://www.bare' || (n % 3) || '.net/x?q=1&REF=up'
FROM d
"""

# Mojibake repair: the two repairable variants come back in real
# UTF-8 (chr(233)=e-acute, chr(8217)=right single quote), clean ASCII
# and the invalid dangling-lead variant pass through byte-identical.
FIX_ENCODING = """
WITH d AS (SELECT doc_id AS n, 'doc-' || CAST(doc_id AS VARCHAR) AS did
           FROM documents)
SELECT did AS id,
       'caf' || chr(233) || ' r' || chr(233) || 'sum' || chr(233)
         || ' no ' || n AS fixed,
       CAST(1 AS BIGINT) AS changed
FROM d
UNION ALL
SELECT did, 'plain ascii ' || n, CAST(0 AS BIGINT) FROM d
UNION ALL
SELECT did, 'it' || chr(8217) || 's fine ' || n, CAST(1 AS BIGINT) FROM d
UNION ALL
SELECT did, 'x' || chr(195) || chr(169) || chr(195) || ' bad ' || n,
       CAST(0 AS BIGINT)
FROM d
"""


def _img_to_pdf_sql() -> str:
    """Image->PDF at maintainAspectRatio + autoRotate: dims re-derive
    from the fixture hash bytes (corpus.media.image_dims_for_ref /
    jpeg_dims_for_ref), the page box swaps to landscape A4 for wide
    images, and the centered scale-to-fit geometry repeats the SAME
    IEEE double operation order as the operator."""
    from ..operators.multimodal import A4_H, A4_W

    def hb(pos: int) -> str:
        return (f"((strpos('0123456789abcdef', substr(h, {pos}, 1)) - 1)"
                f" * 16 + (strpos('0123456789abcdef',"
                f" substr(h, {pos + 1}, 1)) - 1))")

    return f"""
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         substr(sha256(text), 1, 8) AS s8
  FROM documents
), refs AS (
  SELECT did, 1 AS page, 'media-' || s8 AS ref,
         sha256('media-' || s8) AS h, 'raster' AS k
  FROM d
  UNION ALL
  SELECT did, 2, 'jpg-' || s8, sha256('jpg-' || s8), 'jpeg' FROM d
), dims AS (
  SELECT did, page, ref,
         CASE WHEN k = 'raster' THEN 4 + {hb(3)} % 29
              ELSE 8 * (1 + {hb(3)} % 4) END AS iw,
         CASE WHEN k = 'raster' THEN 4 + {hb(5)} % 29
              ELSE 8 * (1 + {hb(5)} % 4) END AS ih
  FROM refs
), fitted AS (
  SELECT did, page, ref, iw, ih,
         CASE WHEN iw > ih THEN {A4_H!r} ELSE {A4_W!r} END AS pw,
         CASE WHEN iw > ih THEN {A4_W!r} ELSE {A4_H!r} END AS ph
  FROM dims
), geo AS (
  SELECT did, page, ref, iw, ih, pw, ph,
         CASE WHEN CAST(iw AS DOUBLE) / ih > pw / ph
              THEN pw / iw ELSE ph / ih END AS scale
  FROM fitted
)
SELECT did AS doc_id, CAST(page AS BIGINT) AS page, pw, ph,
       (pw - iw * scale) / 2 AS x,
       ph - (ph - ih * scale) / 2 - ih * scale AS y,
       iw * scale AS w, ih * scale AS h,
       ref AS media_ref
FROM geo
"""


IMG_TO_PDF = _img_to_pdf_sql()


def _hexb(pos: int) -> str:
    """SQL for BYTE value at 1-based hex position ``pos`` of column h
    (two hex digits)."""
    return (f"((strpos('0123456789abcdef', substr(h, {pos}, 1)) - 1) * 16"
            f" + (strpos('0123456789abcdef', substr(h, {pos + 1}, 1)) - 1))")


# real raster decode (corpus.media.image_payload_for_ref): fmt/dims are
# pure functions of sha256(media_ref); file sizes follow the container
# layouts (PPM ASCII header + RGB triples; BMP 54-byte headers + padded
# BGR rows)
MULTIMODAL_DECODE = f"""
WITH d AS (
  SELECT DISTINCT 'media-' || substr(sha256(text), 1, 8) AS media_ref
  FROM documents
), hh AS (
  SELECT media_ref, sha256(media_ref) AS h FROM d
), dims AS (
  SELECT media_ref,
         CASE {_hexb(1)} % 3 WHEN 0 THEN 'ppm' WHEN 1 THEN 'bmp'
              ELSE 'png' END AS fmt,
         4 + {_hexb(3)} % 29 AS w,
         4 + {_hexb(5)} % 29 AS hgt
  FROM hh
)
SELECT media_ref, fmt,
       CAST(w AS INTEGER) AS width,
       CAST(hgt AS INTEGER) AS height,
       CAST(CASE fmt
            WHEN 'ppm'
                 THEN 9 + CASE WHEN w >= 10 THEN 2 ELSE 1 END
                      + CASE WHEN hgt >= 10 THEN 2 ELSE 1 END
                      + 3 * w * hgt
            WHEN 'bmp'
                 THEN 54 + (3 * w + (4 - (3 * w) % 4) % 4) * hgt
            -- stored-block deflate (level 0) makes the PNG size a
            -- closed form: 68 framing bytes + h filtered scanlines
            ELSE 68 + hgt * (1 + 3 * w)
            END AS BIGINT) AS n_bytes,
       -- decoded pixel stream head: the first sha256 digest of the
       -- ASCII seed 'px:{{ref}}:0' (corpus.media._pixel_stream) — only
       -- PNG goes through real defiltering; raw containers stay null
       CASE WHEN fmt = 'png'
            THEN substr(sha256('px:' || media_ref || ':0'), 1, 16)
       END AS px_head
FROM dims
"""

IMAGE_QUALITY_STATS = _image_quality_sql()


# positional phrase search: per doc, 1-based token list w; a phrase of
# m terms matches at i iff w[i..i+m-1] equal the literals; n_matches =
# count, first_pos = min i - 1 (engine positions are 0-based)
PHRASE_SEARCH = """
WITH d AS (
  SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
), m AS (
  SELECT 'p0' AS query_id, doc_id,
         list_filter(range(1, len(w)),
                     i -> w[i] = 'table' AND w[i+1] = 'table') AS hits
  FROM d
  UNION ALL
  SELECT 'p1', doc_id,
         list_filter(range(1, len(w)),
                     i -> w[i] = 'fast' AND w[i+1] = 'sort')
  FROM d
  UNION ALL
  SELECT 'p2', doc_id,
         list_filter(range(1, len(w) - 1),
                     i -> w[i] = 'scan' AND w[i+1] = 'slow'
                          AND w[i+2] = 'fast')
  FROM d
)
SELECT query_id, CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len(hits) AS BIGINT) AS n_matches,
       CAST(hits[1] - 1 AS BIGINT) AS first_pos
FROM m WHERE len(hits) > 0
"""


# baseline-JPEG decode (corpus.media.jpeg_payload_for_ref): dims are
# pure functions of sha256(ref); fixture blocks are CONSTANT at even
# luma levels with a flat quant step of 16, so encode->decode is
# bit-exact (kernel/jpeg.py docstring) and the first 8 DECODED pixel
# bytes are block 0's level repeated — for grayscale AND for the
# gray-valued-RGB color fixtures (Y=v, Cb=Cr=128 exactly). n_bytes is
# deliberately NOT asserted: Huffman-coded size is content-dependent.
MULTIMODAL_DECODE_JPEG = f"""
WITH d AS (
  SELECT DISTINCT 'media-' || substr(sha256(text), 1, 8) AS media_ref
  FROM documents
), dims AS (
  SELECT media_ref,
         8 * (1 + {_hexb(3)} % 4) AS w,
         8 * (1 + {_hexb(5)} % 4) AS hgt
  FROM (SELECT media_ref, sha256(media_ref) AS h FROM d)
), lvl AS (
  SELECT media_ref, w, hgt,
         {_hexb(1)} - ({_hexb(1)} % 2) AS v0
  FROM (SELECT media_ref, w, hgt,
               sha256('jq:' || media_ref || ':0') AS h
        FROM dims)
)
SELECT media_ref,
       CAST(w AS INTEGER) AS width,
       CAST(hgt AS INTEGER) AS height,
       repeat(substr('0123456789abcdef', v0 // 16 + 1, 1)
              || substr('0123456789abcdef', v0 % 16 + 1, 1), 8) AS px_head
FROM lvl
"""

# GIF decode (corpus.media.gif_payload_for_ref): dims from
# sha256(ref); GIF is LOSSLESS so the decoded RGB stream is exactly
# the 'gx:' index stream gray-expanded — the first 8 RGB bytes are
# indices b0 b0 b0 b1 b1 b1 b2 b2 of sha256('gx:{ref}:0'), i.e. the
# sha hex's first three byte-pairs repeated 3/3/2 times. Compressed
# size is content-dependent and not asserted.
MULTIMODAL_DECODE_GIF = f"""
WITH d AS (
  SELECT DISTINCT 'media-' || substr(sha256(text), 1, 8) AS media_ref
  FROM documents
), dims AS (
  SELECT media_ref,
         4 + {_hexb(3)} % 29 AS w,
         4 + {_hexb(5)} % 29 AS hgt
  FROM (SELECT media_ref, sha256(media_ref) AS h FROM d)
), px AS (
  SELECT media_ref, w, hgt,
         sha256('gx:' || media_ref || ':0') AS g
  FROM dims
)
SELECT media_ref,
       CAST(w AS INTEGER) AS width,
       CAST(hgt AS INTEGER) AS height,
       repeat(substr(g, 1, 2), 3) || repeat(substr(g, 3, 2), 3)
         || repeat(substr(g, 5, 2), 2) AS px_head
FROM px
"""

# baseline-TIFF decode (corpus.media.tiff_payload_for_ref): dims from
# sha256(ref) — same hex positions as the GIF fixture; both supported
# compressions (none / PackBits) are lossless, so the decoded stream
# equals the deterministic 'tx:' pixel stream exactly and its first 8
# bytes are sha256('tx:{ref}:0')'s first 16 hex digits, for gray AND
# RGB (the stream IS the interleaved sample bytes either way).
# Compressed size is content-dependent and not asserted.
MULTIMODAL_DECODE_TIFF = f"""
WITH d AS (
  SELECT DISTINCT 'media-' || substr(sha256(text), 1, 8) AS media_ref
  FROM documents
), dims AS (
  SELECT media_ref,
         4 + {_hexb(3)} % 29 AS w,
         4 + {_hexb(5)} % 29 AS hgt
  FROM (SELECT media_ref, sha256(media_ref) AS h FROM d)
)
SELECT media_ref,
       CAST(w AS INTEGER) AS width,
       CAST(hgt AS INTEGER) AS height,
       substr(sha256('tx:' || media_ref || ':0'), 1, 16) AS px_head
FROM dims
"""

# ------------------------------------------------------------- E14 tables

_TABLE_DOCS_CTE = """
d AS (SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
             string_split(text, ' ') AS w0
      FROM documents),
v AS (SELECT did, list_transform(w0, x -> substr(x, 1, 16)) AS wv,
             len(w0) AS n
      FROM d WHERE len(w0) > 0)"""


def _csv_cell(i: int) -> str:
    # word[(i % n) + 1] clipped (already clipped in wv), quotes doubled
    return f"replace(wv[(({i}) % n) + 1], '\"', '\"\"')"


def _csv_row(idxs: list[int]) -> str:
    parts = ["'\"'"]
    for k, i in enumerate(idxs):
        if k:
            parts.append("'\",\"'")
        parts.append(_csv_cell(i))
    parts.append("'\"'")
    return " || ".join(parts)


def _csv_grid(base: int, n_rows: int, n_cols: int) -> str:
    rows = [
        _csv_row([base + r * n_cols + c for c in range(n_cols)])
        for r in range(n_rows)
    ]
    return " || chr(10) || ".join(rows)


def _e14_lattice_sql() -> str:
    return f"""
WITH {_TABLE_DOCS_CTE},
t AS (
  SELECT did, 1 AS tno, {_csv_grid(0, 2, 3)} AS csv FROM v
  UNION ALL
  SELECT did, 2 AS tno, {_csv_grid(6, 3, 2)} AS csv FROM v
)
SELECT did AS doc_id, CAST(tno AS BIGINT) AS table_no, csv FROM t
"""


E14_LATTICE_TABLES = _e14_lattice_sql()


def _e14_stream_sql() -> str:
    return f"""
WITH {_TABLE_DOCS_CTE}
SELECT did AS doc_id, CAST(1 AS BIGINT) AS page,
       {_csv_grid(0, 4, 3)} AS csv
FROM v
"""


E14_STREAM_TABLE = _e14_stream_sql()


def _extract_csv_sql() -> str:
    """pdf->csv oracle (ExtractCSVController.java:60-133 parity): the
    two lattice grids per doc plus the 's'-cloned stream grid,
    re-stated in the controller's Excel quote-all dialect — CRLF
    record separators with a trailing record break — and the
    generateEntryName filename '{base}_p{page}_t{idx}.csv'."""
    return f"""
WITH {_TABLE_DOCS_CTE},
t AS (
  SELECT did, 1 AS tno, {_csv_grid(0, 2, 3)} AS csv FROM v
  UNION ALL
  SELECT did, 2 AS tno, {_csv_grid(6, 3, 2)} AS csv FROM v
  UNION ALL
  SELECT 's' || did, 1 AS tno, {_csv_grid(0, 4, 3)} AS csv FROM v
)
SELECT did AS doc_id, CAST(1 AS BIGINT) AS page,
       CAST(tno AS BIGINT) AS table_no,
       did || '_p1_t' || CAST(tno AS VARCHAR) || '.csv' AS filename,
       replace(csv, chr(10), chr(13) || chr(10)) || chr(13) || chr(10)
         AS csv
FROM t
"""


EXTRACT_CSV = _extract_csv_sql()


def _to_xlsx_sql() -> str:
    """pdf->xlsx oracle (ConvertPDFToExcelController.java:51-137
    parity): lattice cells only. Base docs carry grid A (2x3, word
    index r*3+c) and grid B (3x2, word index 6 + r*2+c) on page 1 —
    two tables, so sheets are 'Page 1 Table {t}'; the 's'-cloned
    single-grid docs carry grid A alone — one table, sheet 'Page 1'
    (:82-86 single-vs-multi naming). One row per cell with POI's
    0-based row/col indices."""
    return f"""
WITH {_TABLE_DOCS_CTE},
grid(tno, r, c, b) AS (VALUES
  (1,0,0,0),(1,0,1,1),(1,0,2,2),(1,1,0,3),(1,1,1,4),(1,1,2,5),
  (2,0,0,6),(2,0,1,7),(2,1,0,8),(2,1,1,9),(2,2,0,10),(2,2,1,11)
),
base_rows AS (
  SELECT did AS doc_id, tno,
         'Page 1 Table ' || CAST(tno AS VARCHAR) AS sheet_name,
         r, c, wv[((b) % n) + 1] AS value
  FROM v CROSS JOIN grid
),
single_rows AS (
  SELECT 's' || did AS doc_id, tno, 'Page 1' AS sheet_name,
         r, c, wv[((b) % n) + 1] AS value
  FROM v CROSS JOIN grid WHERE tno = 1
),
u AS (SELECT * FROM base_rows UNION ALL SELECT * FROM single_rows)
SELECT doc_id, CAST(1 AS BIGINT) AS page, CAST(tno AS BIGINT) AS table_no,
       sheet_name, CAST(r AS BIGINT) AS row_idx,
       CAST(c AS BIGINT) AS col_idx, value
FROM u
"""


TO_XLSX = _to_xlsx_sql()


# Markdown pipe-table rendering of the E14 stream-mode page
# (TableRenderer.java:8-78): widths = max(3, longest cell per column),
# right-padded cells, dashed separator; corpus cells are single
# pipe-free words so escaping is identity.
def _to_markdown_tables_sql() -> str:
    return f"""
WITH {_TABLE_DOCS_CTE},
wid AS (
  SELECT did, wv, n,
         CAST(GREATEST(3, length(wv[((0) % n) + 1]), length(wv[((3) % n) + 1]), length(wv[((6) % n) + 1]), length(wv[((9) % n) + 1])) AS INTEGER) AS w0,
         CAST(GREATEST(3, length(wv[((1) % n) + 1]), length(wv[((4) % n) + 1]), length(wv[((7) % n) + 1]), length(wv[((10) % n) + 1])) AS INTEGER) AS w1,
         CAST(GREATEST(3, length(wv[((2) % n) + 1]), length(wv[((5) % n) + 1]), length(wv[((8) % n) + 1]), length(wv[((11) % n) + 1])) AS INTEGER) AS w2
  FROM v
)
SELECT did AS doc_id,
         '| ' || rpad(wv[((0) % n) + 1], w0, ' ') || ' ' || '| ' || rpad(wv[((1) % n) + 1], w1, ' ') || ' ' || '| ' || rpad(wv[((2) % n) + 1], w2, ' ') || ' ' || '|' || chr(10) ||
         '|' || repeat('-', w0 + 2) || '|' || repeat('-', w1 + 2) || '|' || repeat('-', w2 + 2) || '|' || chr(10) ||
         '| ' || rpad(wv[((3) % n) + 1], w0, ' ') || ' ' || '| ' || rpad(wv[((4) % n) + 1], w1, ' ') || ' ' || '| ' || rpad(wv[((5) % n) + 1], w2, ' ') || ' ' || '|' || chr(10) ||
         '| ' || rpad(wv[((6) % n) + 1], w0, ' ') || ' ' || '| ' || rpad(wv[((7) % n) + 1], w1, ' ') || ' ' || '| ' || rpad(wv[((8) % n) + 1], w2, ' ') || ' ' || '|' || chr(10) ||
         '| ' || rpad(wv[((9) % n) + 1], w0, ' ') || ' ' || '| ' || rpad(wv[((10) % n) + 1], w1, ' ') || ' ' || '| ' || rpad(wv[((11) % n) + 1], w2, ' ') || ' ' || '|' AS markdown
FROM wid
"""


TO_MARKDOWN_TABLES = _to_markdown_tables_sql()


def _to_html_tables_sql() -> str:
    """The stream-table page rendered as a thead/tbody HTML table
    (kernel/html_export.render_html_table) inside the standalone
    wrapper — same 4x3 word grid as TO_MARKDOWN_TABLES."""
    def cell(i: int) -> str:
        return ("replace(replace(replace(wv[((%d) %% n) + 1],"
                " '&', '&amp;'), '<', '&lt;'), '>', '&gt;')" % i)

    th = " || ".join(f"'<th>' || {cell(c)} || '</th>'"
                     for c in range(3))
    body_rows = []
    for r in range(1, 4):
        tds = " || ".join(f"'<td>' || {cell(r * 3 + c)} || '</td>'"
                          for c in range(3))
        body_rows.append(f"'<tr>' || {tds} || '</tr>'")
    tbody = " || ".join(body_rows)
    return f"""
WITH {_TABLE_DOCS_CTE}
SELECT did AS doc_id,
       '<!DOCTYPE html>' || chr(10) || '<html>' || chr(10) || '<body>'
       || chr(10)
       || '<table><thead><tr>' || {th} || '</tr></thead><tbody>'
       || {tbody} || '</tbody></table>'
       || chr(10) || '</body>' || chr(10) || '</html>' AS html
FROM v
"""


TO_HTML_TABLES = _to_html_tables_sql()


def _to_xml_tables_sql() -> str:
    """The stream-table page rendered as a row/cell structural XML
    table (kernel/xml_export.render_xml_table) inside the declaration
    + <document> wrapper — same 4x3 word grid as TO_HTML_TABLES."""
    def cell(i: int) -> str:
        return ("replace(replace(replace(wv[((%d) %% n) + 1],"
                " '&', '&amp;'), '<', '&lt;'), '>', '&gt;')" % i)

    hdr = " || ".join(f"'<cell>' || {cell(c)} || '</cell>'"
                      for c in range(3))
    body_rows = []
    for r in range(1, 4):
        tds = " || ".join(f"'<cell>' || {cell(r * 3 + c)} || '</cell>'"
                          for c in range(3))
        body_rows.append(f"'<row>' || {tds} || '</row>'")
    tbody = " || ".join(body_rows)
    return f"""
WITH {_TABLE_DOCS_CTE}
SELECT did AS doc_id,
       '<?xml version="1.0" encoding="UTF-8"?>' || chr(10)
       || '<document>' || chr(10)
       || '<table><row header="true">' || {hdr} || '</row>'
       || {tbody} || '</table>'
       || chr(10) || '</document>' AS xml
FROM v
"""


TO_XML_TABLES = _to_xml_tables_sql()

H2_H3_SANITIZE = r"""
WITH built AS (
  SELECT doc_id,
         '<div><script type="text/js">ignore me</script>'
         || '<style>.x{position:fixed;}</style>'
         || '<p style="position:absolute;top:0">' || text || '</p></div>'
           AS html
  FROM documents
), cleaned AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(
             regexp_replace(html, '(?is)<script[^>]*>.*?</script>', '', 'g'),
             '(?is)<style[^>]*>.*?</style>', '', 'g'),
           '(?i)position\s*:\s*(fixed|absolute)\s*;?', '', 'g') AS c
  FROM built
)
SELECT doc_id, md5(c) AS clean_md5, CAST(length(c) AS BIGINT) AS clean_len
FROM cleaned
"""

H1_SANITIZE = """
WITH cleaned AS (
  SELECT doc_id,
         '<div><p>' || text
         || '</p><img alt="pic" />keep this text'
         || '<a href="https://e.x/" title="t">link</a></div>' AS c
  FROM documents
)
SELECT doc_id, md5(c) AS clean_md5, CAST(length(c) AS BIGINT) AS clean_len
FROM cleaned
"""

H7_BOILERPLATE = """
WITH b AS (
  SELECT doc_id,
         'Heading ' || CAST(doc_id AS VARCHAR) AS h,
         rtrim('the quick brown fox paragraph one '
               || ltrim(substr(text, 1, 200))) AS p1,
         rtrim('the quick brown fox paragraph two '
               || ltrim(substr(text, 201, 200))) AS p2
  FROM documents
)
SELECT doc_id,
       CAST(3 AS INTEGER) AS n_blocks,
       md5(h || chr(10) || p1 || chr(10) || p2) AS blocks_md5
FROM b
"""

H5_AUTOLINK = r"""
WITH built AS (
  SELECT doc_id,
         'a<b & c>d ' || substr(text, 1, 40)
         || ' visit https://example.com/' || doc_id
         || ' or mail doc' || doc_id || '@test.org now' AS src
  FROM documents
), esc AS (
  SELECT doc_id,
         replace(replace(replace(src, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')
           AS s
  FROM built
), linked AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(s, '(https?://[^\s<]+)',
                          '<a href="\1">\1</a>', 'g'),
           '([A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,})',
           '<a href="mailto:\1">\1</a>', 'g') AS h
  FROM esc
)
SELECT doc_id, md5(h) AS html_md5 FROM linked
"""

E10_HAS_TEXT = """
SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS doc_id
FROM documents WHERE contains(text, 'data')
"""

TEXT_CHUNK_WINDOWS = """
WITH d AS (
  SELECT doc_id, text,
         CAST(ceil(GREATEST(length(text) - 64, 1) / 448.0) AS BIGINT) AS n
  FROM documents
), x AS (
  SELECT doc_id, text, unnest(range(0, n)) AS chunk_no FROM d
)
SELECT doc_id, chunk_no,
       substr(text, CAST(chunk_no * 448 + 1 AS BIGINT), 512) AS chunk
FROM x
"""

E24_SENTENCE_CHUNKS = """
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), s AS (
  SELECT doc_id,
         list_transform(w, x -> rpad(substr(x, 1, 10), 19, 'x') || '.') AS sn,
         CAST(len(w) AS BIGINT) AS n
  FROM d
), j AS (
  -- 20-char sentences: 24 per chunk, 3-sentence overlap tail ->
  -- chunk j covers sentences [21j, 21j+24)
  SELECT doc_id, sn, n,
         unnest(range(0, CASE WHEN n <= 24 THEN 1
                       ELSE CAST(ceil((n - 24) / 21.0) AS BIGINT) + 1 END))
           AS cj
  FROM s
)
SELECT doc_id,
       CAST(cj AS BIGINT) AS chunk_no,
       array_to_string(
         sn[CAST(21*cj + 1 AS BIGINT):CAST(LEAST(21*cj + 24, n) AS BIGINT)],
         ' ') AS chunk
FROM j
"""

EML_ROUNDTRIP = """
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       'doc ' || CAST(doc_id AS VARCHAR) AS subject,
       'sender@example.com' AS from_addr,
       CAST(n_chars AS BIGINT) AS body_n_chars,
       CAST(CASE WHEN substr(CAST(doc_id AS VARCHAR),
                             length(CAST(doc_id AS VARCHAR)), 1) IN ('0','5')
                 THEN 1 ELSE 0 END AS BIGINT) AS n_attachments
FROM documents
"""

MULTIMODAL_META = """
SELECT doc_id AS id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS sha256,
       CAST(1 + (CAST(octet_length(encode(text)) AS BIGINT) * 2654435761) % 4096
            AS INTEGER) AS width,
       CAST(1 + (CAST(octet_length(encode(text)) AS BIGINT) * 2246822519) % 4096
            AS INTEGER) AS height
FROM documents
"""


def _auto_rotate_sql() -> str:
    """The /auto-rotate-pdf text path re-derived closed-form from the
    autorotate_from_text archetype table (corpus/synth.py): per page
    p in 1..4, rotation / dominant direction / archetype come from
    sha256 hex digits at 1-based positions p, p+4, p+8; archetype
    fixes (best_c, total, conclusive, note) per the MIN_GLYPHS=30/
    0.95 and MIN_GLYPHS_UNANIMOUS=8/0.99 bars; consensus inference
    groups decided pages by /Rotate (AutoRotateController.java:
    205-243)."""

    def hv(pos_expr: str) -> str:
        return ("(strpos('0123456789abcdef', "
                f"substr(h, CAST({pos_expr} AS INTEGER), 1)) - 1)")

    return f"""
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did, sha256(text) AS h
  FROM documents WHERE length(trim(text)) > 0
), pg AS (
  SELECT did, h, CAST(t.p AS BIGINT) AS page
  FROM d, unnest([1, 2, 3, 4]) AS t(p)
), base AS (
  SELECT did, page,
         CAST(90 * ({hv('page')} % 4) AS BIGINT) AS rotation,
         90 * ({hv('page + 4')} % 4) AS dd,
         {hv('page + 8')} % 4 AS a
  FROM pg
), calc AS (
  SELECT did, page, rotation, a,
         CASE a WHEN 0 THEN 40 WHEN 1 THEN 10 WHEN 2 THEN 5
                ELSE 20 END AS best_c,
         CASE a WHEN 0 THEN 41 WHEN 1 THEN 10 WHEN 2 THEN 5
                ELSE 35 END AS total,
         CASE WHEN a IN (0, 1) THEN 1 ELSE 0 END AS decided,
         ((dd - rotation) % 360 + 360) % 360 AS t_corr
  FROM base
), cons AS (
  SELECT did, rotation, MIN(t_corr) AS cc
  FROM calc WHERE decided = 1
  GROUP BY did, rotation
  HAVING COUNT(DISTINCT t_corr) = 1
), fin AS (
  SELECT c.did, c.page, c.rotation, c.a, c.decided, c.best_c, c.total,
         CASE WHEN c.decided = 1 THEN 'text'
              WHEN cons.cc IS NOT NULL THEN 'inferred'
              ELSE 'none' END AS method,
         CASE WHEN c.decided = 1 THEN c.t_corr
              ELSE COALESCE(cons.cc, 0) END AS corr
  FROM calc c
  LEFT JOIN cons ON c.did = cons.did AND c.rotation = cons.rotation
)
SELECT did AS doc_id, page, rotation, method,
       CAST(corr AS BIGINT) AS correction,
       CAST(CASE WHEN corr <> 0 THEN 1 ELSE 0 END AS INTEGER) AS applied,
       CAST((rotation + corr) % 360 AS BIGINT) AS new_rotation,
       CAST(total AS BIGINT) AS n_glyphs,
       CAST(CASE WHEN decided = 1 THEN (10000 * best_c) // total
                 ELSE -1 END AS BIGINT) AS conf_x10000,
       CASE WHEN decided = 1 THEN ''
            WHEN method = 'inferred' THEN 'inferredFromDocument'
            WHEN total < 30 THEN 'tooFewGlyphs'
            ELSE 'noDominantDirection' END AS note
FROM fin
"""


AUTO_ROTATE = _auto_rotate_sql()


# Gap-based sessionization (operators/relational.events_sessionize):
# per user, (ts, event_id)-ordered events chain while gaps stay
# STRICTLY UNDER 480 min (session_window's end-exclusive convention);
# epoch-microsecond integer arithmetic end-to-end.

# Streaming exact-dedup: first-arrival semantics over a feed whose
# every row is replayed — the final appended output is exactly the
# batch events table in integer-exact columns.
STREAMING_DEDUP = f"""
SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
       {micro('value')} AS value_micro
FROM events
"""

EVENTS_SESSIONIZE = f"""
WITH e AS (
  SELECT user_id, ts, event_id, epoch_us(ts) AS us,
         {micro('value')} AS v_micro
  FROM events
), f AS (
  SELECT user_id, event_id, us, v_micro,
         CASE WHEN lag(us) OVER w IS NULL
                   OR us - lag(us) OVER w >= 480 * 60 * CAST(1000000 AS BIGINT)
              THEN 1 ELSE 0 END AS new_s
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, us, v_micro,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM f
)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       CAST(count(*) AS BIGINT) AS n_events,
       MIN(us) AS start_us, MAX(us) AS end_us,
       CAST(SUM(v_micro) AS BIGINT) AS sum_value_micro
FROM s GROUP BY user_id, session_idx
"""


def _bm25_sql(k: int = 10) -> str:
    """Integer-exact Okapi BM25 with the rational IDF surrogate
    (operators/retrieval.bm25_topk): k1 = 1.2 / b = 0.75 as x10/x100
    integers, every division a positive floor div."""
    q_rows = ", ".join(
        f"('{qid}', '{t}')"
        for qid, terms in (("q0", ("hash", "join")),
                           ("q1", ("window", "agg", "batch")),
                           ("q2", ("slow", "scan", "filter")))
        for t in terms
    )
    return f"""
WITH toks AS (
  SELECT CAST(doc_id AS BIGINT) AS id,
         unnest(string_split(text, ' ')) AS term
  FROM documents
), tk AS (
  SELECT id, term FROM toks WHERE term <> ''
), dl AS (
  SELECT id, count(*) AS dl FROM tk GROUP BY id
), stats AS (
  SELECT count(*) AS n_docs,
         (100 * SUM(dl)) // count(*) AS avgdl_x100
  FROM dl
), tf AS (
  SELECT id, term, count(*) AS tf FROM tk GROUP BY id, term
), dft AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), q(query_id, term) AS (VALUES {q_rows}),
j AS (
  SELECT q.query_id, tf.id, tf.tf, dft.df, dl.dl,
         stats.n_docs, stats.avgdl_x100,
         100 - 75 + (75 * 100 * dl.dl) // stats.avgdl_x100 AS norm_x100
  FROM q
  JOIN tf USING (term)
  JOIN dft USING (term)
  JOIN dl ON tf.id = dl.id
  CROSS JOIN stats
), c AS (
  SELECT query_id, id,
         ((1000 * (2 * (n_docs - df) + 1)) // (2 * df + 1))
         * ((1000 * 2200 * tf) // (1000 * tf + 12 * norm_x100))
         AS contrib
  FROM j
), s AS (
  SELECT query_id, id, CAST(SUM(contrib) AS BIGINT) AS score_x1e6
  FROM c GROUP BY query_id, id
), r AS (
  SELECT query_id, id, score_x1e6,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY score_x1e6 DESC, id ASC) AS BIGINT) AS rank
  FROM s
)
SELECT query_id, rank, id AS doc_id, score_x1e6
FROM r WHERE rank <= {k}
"""


BM25_TOPK = _bm25_sql()


def _bm25_hard_neg_sql(every: int = 100, n_terms: int = 3,
                       k: int = 5) -> str:
    """Hard-negative mining oracle: queries are the first n_terms
    tokens of every doc with id % every = 0 (duplicates keep their
    query-tf weight), scored by the same integer-exact Okapi BM25 as
    _bm25_sql, gold doc excluded before ranking."""
    return f"""
WITH toks AS (
  SELECT CAST(doc_id AS BIGINT) AS id,
         unnest(string_split(text, ' ')) AS term
  FROM documents
), tk AS (
  SELECT id, term FROM toks WHERE term <> ''
), dl AS (
  SELECT id, count(*) AS dl FROM tk GROUP BY id
), stats AS (
  SELECT count(*) AS n_docs,
         (100 * SUM(dl)) // count(*) AS avgdl_x100
  FROM dl
), tf AS (
  SELECT id, term, count(*) AS tf FROM tk GROUP BY id, term
), dft AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), q AS (
  SELECT query_id, t.term
  FROM (SELECT CAST(doc_id AS BIGINT) AS query_id,
               string_split(trim(text), ' ') AS w
        FROM documents
        WHERE CAST(doc_id AS BIGINT) % {every} = 0),
       unnest(w[1:{n_terms}]) AS t(term)
  WHERE t.term <> ''
), j AS (
  SELECT q.query_id, tf.id, tf.tf, dft.df, dl.dl,
         stats.n_docs, stats.avgdl_x100,
         100 - 75 + (75 * 100 * dl.dl) // stats.avgdl_x100 AS norm_x100
  FROM q
  JOIN tf USING (term)
  JOIN dft USING (term)
  JOIN dl ON tf.id = dl.id
  CROSS JOIN stats
), c AS (
  SELECT query_id, id,
         ((1000 * (2 * (n_docs - df) + 1)) // (2 * df + 1))
         * ((1000 * 2200 * tf) // (1000 * tf + 12 * norm_x100))
         AS contrib
  FROM j
), s AS (
  SELECT query_id, id, CAST(SUM(contrib) AS BIGINT) AS score_x1e6
  FROM c GROUP BY query_id, id
), r0 AS (
  SELECT * FROM s WHERE id <> query_id
), r AS (
  SELECT query_id, id, score_x1e6,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY score_x1e6 DESC, id ASC) AS BIGINT) AS rank
  FROM r0
)
SELECT query_id AS query_doc_id, rank, id AS neg_doc_id, score_x1e6
FROM r WHERE rank <= {k}
"""


BM25_HARD_NEGATIVES = _bm25_hard_neg_sql()


# per-doc 3-gram novelty: distinct shingles, corpus-unique distinct
# shingles, (1000 * unique) div distinct; < 3-token docs emit zeros
TEXT_NGRAM_NOVELTY = """
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS id,
         string_split(trim(text), ' ') AS w
  FROM documents
), sh AS (
  SELECT id,
         list_distinct(CASE WHEN len(w) >= 3
           THEN list_transform(range(1, len(w) - 1),
                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
           ELSE [] END) AS ss
  FROM d
), inv AS (
  SELECT id, unnest(ss) AS s FROM sh
), freq AS (
  SELECT s, count(*) AS dfreq FROM inv GROUP BY s
), agg AS (
  SELECT inv.id,
         CAST(count(*) AS BIGINT) AS n_shingles,
         CAST(sum(CASE WHEN freq.dfreq = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_unique
  FROM inv JOIN freq USING (s) GROUP BY inv.id
)
SELECT d.id,
       COALESCE(agg.n_shingles, 0) AS n_shingles,
       COALESCE(agg.n_unique, 0) AS n_unique,
       CAST(COALESCE((1000 * agg.n_unique) // agg.n_shingles, 0)
            AS BIGINT) AS novelty_x1000
FROM d LEFT JOIN agg ON agg.id = d.id
"""


# hierarchical ROLLUP (type x hour -> type -> grand total) with
# sentinel-coalesced slots and an explicit level id
EVENTS_ROLLUP_CUBE = f"""
WITH r AS (
  SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod,
         GROUPING(event_type) AS ge, GROUPING(hour(ts)) AS gh,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(SUM({micro('value')}) AS BIGINT) AS sum_value_micro
  FROM events
  GROUP BY ROLLUP (event_type, hour(ts))
)
SELECT COALESCE(event_type, '(all)') AS event_type,
       CAST(COALESCE(hod, -1) AS BIGINT) AS hod,
       CAST(CASE WHEN ge = 1 THEN 2 WHEN gh = 1 THEN 1 ELSE 0 END
            AS BIGINT) AS lvl,
       n_events, sum_value_micro
FROM r
"""


# hourly anomaly flags: per event_type, 10*cnt*trail_n >
# 20*trail_sum over the trailing 24 ROWS (>= 12 rows warm-up)
EVENTS_ANOMALY = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
), t AS (
  SELECT event_type, hour, cnt,
         CAST(count(cnt) OVER w AS BIGINT) AS trail_n,
         CAST(COALESCE(sum(cnt) OVER w, 0) AS BIGINT) AS trail_sum
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
)
SELECT event_type,
       CAST(epoch(hour) AS BIGINT) AS hour_epoch,
       cnt, trail_n, trail_sum,
       CAST(CASE WHEN trail_n >= 12
                  AND 10 * cnt * trail_n > 20 * trail_sum
            THEN 1 ELSE 0 END AS BIGINT) AS anomaly
FROM t
"""


# seeded deterministic shuffle: md5('epoch0:' || id) keys, shard =
# first byte mod 8, pos = 0-based key rank within shard
CORPUS_SHUFFLE_ORDER = """
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS id,
         md5('epoch0:' || CAST(CAST(doc_id AS BIGINT) AS VARCHAR))
           AS key
  FROM documents
)
SELECT id,
       CAST(CAST(concat('0x', substr(key, 1, 2)) AS BIGINT) % 8
            AS BIGINT) AS shard,
       CAST(row_number() OVER (
            PARTITION BY CAST(concat('0x', substr(key, 1, 2)) AS BIGINT)
                         % 8
            ORDER BY key) - 1 AS BIGINT) AS pos,
       key
FROM d
"""


# co-citation pairs on the directed co-link graph: distinct directed
# edges from the two per-doc path segments; pairs of targets sharing
# >= 2 citing sources
WEB_COCITATION = """
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS n FROM documents
), e AS (
  SELECT DISTINCT 'dom' || CAST(n % 97 AS VARCHAR) AS src,
         'dom' || CAST((n * n + 3) % 97 AS VARCHAR) AS dst
  FROM d
  UNION
  SELECT DISTINCT 'dom' || CAST((n * n + 3) % 97 AS VARCHAR),
         'dom' || CAST((n * 3 + 7) % 97 AS VARCHAR)
  FROM d
), f AS (
  SELECT src, dst FROM e WHERE src <> dst
)
SELECT a.dst AS id_a, b.dst AS id_b,
       CAST(count(*) AS BIGINT) AS common
FROM f a JOIN f b ON a.src = b.src AND a.dst < b.dst
GROUP BY a.dst, b.dst
HAVING count(*) >= 1
"""


# HTML -> interleaved spans: 12-token text chunks; an image follows
# chunk i iff (doc_id + i) % 3 = 0, ref 'media-'||sha8(text)||'-'||i;
# offsets count the combined in-order sequence
HTML_INTERLEAVED = """
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, text,
         string_split(trim(text), ' ') AS w
  FROM documents
), p AS (
  SELECT doc_id, text, t.i AS i,
         array_to_string(list_slice(w, t.i * 12 + 1, t.i * 12 + 12),
                         ' ') AS chunk,
         CASE WHEN (doc_id + t.i) % 3 = 0 THEN 1 ELSE 0 END AS has_img
  FROM d, unnest(range(0, (len(w) + 11) // 12)) AS t(i)
), o AS (
  SELECT doc_id, text, i, chunk, has_img,
         i + COALESCE(SUM(has_img) OVER (PARTITION BY doc_id
             ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING
             AND 1 PRECEDING), 0) AS off_text
  FROM p
)
SELECT doc_id, CAST(off_text AS BIGINT) AS offset,
       'text' AS kind, chunk AS text, '' AS media_ref
FROM o
UNION ALL
SELECT doc_id, CAST(off_text + 1 AS BIGINT) AS offset,
       'media' AS kind, '' AS text,
       'media-' || substr(sha256(text), 1, 8) || '-'
         || CAST(i AS VARCHAR) AS media_ref
FROM o WHERE has_img = 1
"""


# Count-Min sketch point-query audit: depth 4 x width 256, row hash =
# first 8 md5 hex chars of 'cms{r}:'||term mod 256; estimates for the
# top-10 true-count terms; CMS never underestimates
SKETCH_CMS_ESTIMATE = """
WITH toks AS (
  SELECT unnest(string_split(trim(text), ' ')) AS term FROM documents
), tk AS (
  SELECT term FROM toks WHERE term <> ''
), truth AS (
  SELECT term, CAST(count(*) AS BIGINT) AS true_cnt
  FROM tk GROUP BY term
), top AS (
  SELECT term, true_cnt,
         CAST(row_number() OVER (ORDER BY true_cnt DESC, term ASC)
              AS BIGINT) AS rank
  FROM truth QUALIFY rank <= 10
), cells AS (
  SELECT r.r AS row,
         CAST(CAST(concat('0x', substr(md5('cms' || CAST(r.r AS VARCHAR)
              || ':' || term), 1, 8)) AS BIGINT) % 256 AS INTEGER)
           AS col,
         CAST(count(*) AS BIGINT) AS cnt
  FROM tk CROSS JOIN (SELECT unnest(range(0, 4)) AS r) r
  GROUP BY 1, 2
), probed AS (
  SELECT top.term, top.true_cnt, top.rank, r.r AS row,
         CAST(CAST(concat('0x', substr(md5('cms' || CAST(r.r AS VARCHAR)
              || ':' || top.term), 1, 8)) AS BIGINT) % 256 AS INTEGER)
           AS col
  FROM top CROSS JOIN (SELECT unnest(range(0, 4)) AS r) r
)
SELECT p.rank, p.term, p.true_cnt,
       CAST(min(c.cnt) AS BIGINT) AS est_cnt,
       CAST(min(c.cnt) - p.true_cnt AS BIGINT) AS overestimate
FROM probed p JOIN cells c ON c.row = p.row AND c.col = p.col
GROUP BY p.rank, p.term, p.true_cnt
"""


# jusText-style paragraph classification re-derived closed-form from
# the raw token stream: 12-token chunks, link planted when
# (doc_id + i) % 5 = 0 and the chunk has >= 4 words (3-word link text)
HTML_JUSTEXT = """
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         string_split(trim(text), ' ') AS w
  FROM documents
), p AS (
  SELECT doc_id, t.i AS para_idx,
         list_slice(w, t.i * 12 + 1, t.i * 12 + 12) AS tk
  FROM d, unnest(range(0, (len(w) + 11) // 12)) AS t(i)
), m AS (
  SELECT doc_id, para_idx,
         CAST(len(tk) AS BIGINT) AS n_words,
         CAST(len(list_filter(tk, x -> x IN ('a', 'the')))
              AS BIGINT) AS n_stop,
         CAST(CASE WHEN (doc_id + para_idx) % 5 = 0 AND len(tk) >= 4
              THEN strlen(array_to_string(list_slice(tk, 1, 3), ' '))
              ELSE 0 END AS BIGINT) AS link_chars,
         CAST(strlen(array_to_string(tk, ' ')) AS BIGINT)
           AS total_chars
  FROM p
), c AS (
  SELECT *,
         CASE WHEN 10 * link_chars > 2 * total_chars OR n_words < 4
              THEN 'bad'
              WHEN n_words >= 10 AND 10 * n_stop >= n_words
              THEN 'good'
              ELSE 'near' END AS cls_init
  FROM m
)
SELECT doc_id, CAST(para_idx AS BIGINT) AS para_idx,
       n_words, n_stop, link_chars, total_chars, cls_init,
       CASE WHEN cls_init <> 'near' THEN cls_init
            WHEN COALESCE(lag(cls_init) OVER
                   (PARTITION BY doc_id ORDER BY para_idx) = 'good',
                 FALSE)
              OR COALESCE(lead(cls_init) OVER
                   (PARTITION BY doc_id ORDER BY para_idx) = 'good',
                 FALSE)
            THEN 'good' ELSE 'bad' END AS cls_final
FROM c
"""


# held-out stupid-backoff trigram scoring: model from EVEN doc_ids,
# scores for ODD doc_ids; alpha = 0.4 as the x10 integer; c1 counts
# bigram LEFT occurrences (bigram_lm_fit's denominator convention)
LM_TRIGRAM_BACKOFF = """
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS id,
         string_split(trim(text), ' ') AS w
  FROM documents
), tr AS (
  SELECT id, w FROM d WHERE id % 2 = 0
), g2 AS (
  SELECT w[i] AS w1, w[i] || ' ' || w[i + 1] AS gm
  FROM tr, unnest(range(1, len(w))) AS t(i)
  WHERE len(w) >= 2
), c12 AS (
  SELECT gm, count(*) AS c12 FROM g2 GROUP BY gm
), c1 AS (
  SELECT w1, count(*) AS c1 FROM g2 GROUP BY w1
), g3 AS (
  SELECT w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS tg
  FROM tr, unnest(range(1, len(w) - 1)) AS t(i)
  WHERE len(w) >= 3
), c123 AS (
  SELECT tg, count(*) AS c123 FROM g3 GROUP BY tg
), pos AS (
  SELECT id,
         w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS tg,
         w[i] || ' ' || w[i + 1] AS b12,
         w[i + 1] || ' ' || w[i + 2] AS b23,
         w[i + 1] AS mid
  FROM d, unnest(range(1, len(w) - 1)) AS t(i)
  WHERE id % 2 = 1 AND len(w) >= 3
), sc AS (
  SELECT pos.id,
         CASE WHEN c123.c123 IS NOT NULL
              THEN (1000 * c123.c123) // c12.c12
              WHEN cb.cb IS NOT NULL AND c1.c1 IS NOT NULL
              THEN (4 * ((1000 * cb.cb) // c1.c1)) // 10
              ELSE 0 END AS s,
         CASE WHEN c123.c123 IS NOT NULL THEN 1 ELSE 0 END AS seen,
         CASE WHEN c123.c123 IS NULL AND cb.cb IS NOT NULL
                   AND c1.c1 IS NOT NULL THEN 1 ELSE 0 END AS bo
  FROM pos
  LEFT JOIN c123 ON c123.tg = pos.tg
  LEFT JOIN c12 ON c12.gm = pos.b12
  LEFT JOIN (SELECT gm AS gm_b, c12 AS cb FROM c12) cb
         ON cb.gm_b = pos.b23
  LEFT JOIN c1 ON c1.w1 = pos.mid
), agg AS (
  SELECT id, CAST(count(*) AS BIGINT) AS n_trigrams,
         CAST(sum(seen) AS BIGINT) AS n_seen,
         CAST(sum(bo) AS BIGINT) AS n_backoff,
         sum(s) AS p_sum
  FROM sc GROUP BY id
)
SELECT d.id,
       COALESCE(agg.n_trigrams, 0) AS n_trigrams,
       COALESCE(agg.n_seen, 0) AS n_seen,
       COALESCE(agg.n_backoff, 0) AS n_backoff,
       CAST(COALESCE(agg.p_sum // agg.n_trigrams, 0) AS BIGINT)
         AS fit_x1000
FROM (SELECT id FROM d WHERE id % 2 = 1) d
LEFT JOIN agg ON agg.id = d.id
"""


# asymmetric containment pairs over distinct 2-gram shingles:
# 100 * common >= 80 * least(size_a, size_b)
CONTAINMENT_PAIRS = """
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS id,
         string_split(trim(text), ' ') AS w
  FROM documents
), sh AS (
  SELECT id, unnest(list_distinct(CASE WHEN len(w) >= 2
    THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
    ELSE [] END)) AS s
  FROM d
), sz AS (
  SELECT id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY id
), pairs AS (
  SELECT a.id AS id_a, b.id AS id_b, CAST(count(*) AS BIGINT) AS common
  FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b, common, sa.sz AS size_a, sb.sz AS size_b
FROM pairs
JOIN sz sa ON sa.id = pairs.id_a
JOIN sz sb ON sb.id = pairs.id_b
WHERE 100 * common >= 80 * least(sa.sz, sb.sz)
"""


# block-mean downsample (factor 4) of the sawtooth WAV fixtures: the
# per-block floor-div means are closed-form — mono blocks collapse to
# -2 // 4 = -1 everywhere; stereo blocks alternate (amp+3, -(amp+4))
# and (amp+11, -(amp+12)) with block parity
AUDIO_DOWNSAMPLE = f"""
WITH d AS (
  SELECT DISTINCT 'media-' || substr(sha256(text), 1, 8) AS media_ref
  FROM documents
), p AS (
  SELECT media_ref,
         1 + {_hexb(3)} % 2 AS ch,
         ([8000, 16000, 32000, 48000])[{_hexb(5)} % 4 + 1] AS rate,
         256 * (1 + {_hexb(7)} % 8) AS nf,
         1000 + 100 * ({_hexb(9)} % 10) AS amp
  FROM (SELECT media_ref, sha256(media_ref) AS h FROM d)
)
SELECT media_ref,
       CAST(ch AS INTEGER) AS channels,
       CAST(rate AS INTEGER) AS sample_rate,
       CAST(rate // 4 AS INTEGER) AS rate_out,
       CAST(nf // 4 AS BIGINT) AS n_out_frames,
       CAST(CASE WHEN ch = 1 THEN 1 ELSE amp + 12 END AS BIGINT)
         AS peak_out,
       CAST(CASE WHEN ch = 1 THEN nf // 4
            ELSE (nf // 8) * (4 * amp + 30) END AS BIGINT) AS sumabs_out,
       CAST(CASE WHEN ch = 1 THEN nf // 4
            ELSE (nf // 8) * ((amp + 3) * (amp + 3)
                             + (amp + 4) * (amp + 4)
                             + (amp + 11) * (amp + 11)
                             + (amp + 12) * (amp + 12))
            END AS BIGINT) AS energy_out
FROM p
"""


# TF-IDF cosine near-dup pairs: integer weights tf * ((100*N) div df),
# threshold cos >= 85/100 decided by the cross-multiplied square in
# HUGEINT (engine side uses decimal(38,0) for the same inequality)
TFIDF_COSINE_PAIRS = """
WITH src AS (
  SELECT * FROM documents WHERE CAST(doc_id AS BIGINT) % 5 = 0
), toks AS (
  SELECT CAST(doc_id AS BIGINT) AS id,
         unnest(string_split(trim(text), ' ')) AS term
  FROM src
), tk AS (
  SELECT id, term FROM toks WHERE term <> ''
), tf AS (
  SELECT id, term, count(*) AS tf FROM tk GROUP BY id, term
), nd AS (
  SELECT count(DISTINCT id) AS n FROM tf
), dft AS (
  SELECT term, count(*) AS dfreq FROM tf GROUP BY term
), w AS (
  SELECT id, term, CAST(tf * ((100 * nd.n) // dfreq) AS BIGINT) AS w
  FROM tf JOIN dft USING (term) CROSS JOIN nd
), norms AS (
  SELECT id, CAST(sum(w * w) AS BIGINT) AS norm FROM w GROUP BY id
), dots AS (
  SELECT a.id AS id_a, b.id AS id_b,
         CAST(sum(a.w * b.w) AS BIGINT) AS dot
  FROM w a JOIN w b ON a.term = b.term AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b, dot, na.norm AS norm_a, nb.norm AS norm_b
FROM dots
JOIN norms na ON na.id = dots.id_a
JOIN norms nb ON nb.id = dots.id_b
WHERE CAST(10000 AS HUGEINT) * dot * dot
      >= CAST(7225 AS HUGEINT) * na.norm * nb.norm
"""


# /timestamp-pdf DocTimeStamp state over the analysis corpus: every
# doc timestamped by its num % 5 preset TSA; docs whose corpus planted
# a signature field (hex digit 16 % 4 = 0) take sig1
TIMESTAMP_STATE = f"""
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         CAST(doc_id AS BIGINT) AS num, sha256(text) AS h
  FROM documents
)
SELECT did AS doc_id,
       CAST(CASE WHEN {_hexv(16)} % 4 = 0 THEN 1 ELSE 0 END AS BIGINT)
         AS sig_no,
       'TSA:' || (['DigiCert', 'Sectigo', 'SSL.com', 'FreeTSA',
                   'MeSign'])[(num % 5) + 1] AS signer_name,
       '2026-02-' || lpad(CAST(num % 28 + 1 AS VARCHAR), 2, '0')
         AS signature_date,
       (['http://timestamp.digicert.com', 'http://timestamp.sectigo.com',
         'http://ts.ssl.com', 'https://freetsa.org/tsr',
         'http://tsa.mesign.com'])[(num % 5) + 1] AS tsa_url,
       'ETSI.RFC3161' AS subfilter,
       CAST(1 AS INTEGER) AS covers_document,
       CAST(1 AS INTEGER) AS valid
FROM d
"""


def _to_epub_sql() -> str:
    """pdf->epub over the two-chapter corpus (docs >= 24 words): the
    six OCF members restated closed-form — constants for mimetype /
    container.xml, doc_id-substituted content.opf / nav.xhtml, and
    the two chapter XHTML docs whose single paragraph is the ceil-
    half word split (the whole corpus is quote/entity-free, so the
    escape chain is the identity and the oracle may omit it)."""
    xhead = ('<?xml version="1.0" encoding="UTF-8"?>\n'
             '<!DOCTYPE html>\n'
             '<html xmlns="http://www.w3.org/1999/xhtml">\n'
             '<head>\n<title>{title}</title>\n</head>\n<body>\n')
    container = (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<container version="1.0" xmlns="urn:oasis:names:tc:'
        'opendocument:xmlns:container">\n<rootfiles>\n'
        '<rootfile full-path="OEBPS/content.opf" '
        'media-type="application/oebps-package+xml"/>\n'
        '</rootfiles>\n</container>')
    nav = (xhead.format(title="Contents")
           + '<nav epub:type="toc" '
             'xmlns:epub="http://www.idpf.org/2007/ops">\n<ol>\n'
             '<li><a href="chapter-1.xhtml">Chapter 1</a></li>\n'
             '<li><a href="chapter-2.xhtml">Chapter 2</a></li>\n'
             '</ol>\n</nav>\n</body>\n</html>')
    opf_a = (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<package xmlns="http://www.idpf.org/2007/opf" version="3.0" '
        'unique-identifier="bookid">\n'
        '<metadata xmlns:dc="http://purl.org/dc/elements/1.1/">\n'
        '<dc:identifier id="bookid">')
    opf_b = '</dc:identifier>\n<dc:title>'
    opf_c = (
        '</dc:title>\n<dc:language>en</dc:language>\n</metadata>\n'
        '<manifest>\n'
        '<item id="nav" href="nav.xhtml" '
        'media-type="application/xhtml+xml" properties="nav"/>\n'
        '<item id="chapter-1" href="chapter-1.xhtml" '
        'media-type="application/xhtml+xml"/>\n'
        '<item id="chapter-2" href="chapter-2.xhtml" '
        'media-type="application/xhtml+xml"/>\n'
        '</manifest>\n<spine>\n'
        '<itemref idref="chapter-1"/>\n<itemref idref="chapter-2"/>\n'
        '</spine>\n</package>')

    def chap(k: str, words: str) -> str:
        return ("'" + xhead.format(title=f"Chapter {k}")
                + f"<h1>Chapter {k}</h1>\n<p>' || {words} || "
                  "'</p>\n</body>\n</html>'")

    return f"""
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         string_split(text, ' ') AS w
  FROM documents WHERE len(string_split(text, ' ')) >= 24
), e AS (
  SELECT did,
         array_to_string(w[1:(len(w)+1)//2], ' ') AS c1,
         array_to_string(w[(len(w)+1)//2+1:], ' ') AS c2
  FROM d
), m AS (
  SELECT did, 0 AS o, 'mimetype' AS member,
         'application/epub+zip' AS content FROM e
  UNION ALL
  SELECT did, 1, 'META-INF/container.xml', '{container}' FROM e
  UNION ALL
  SELECT did, 2, 'OEBPS/content.opf',
         '{opf_a}' || did || '{opf_b}' || did || '{opf_c}' FROM e
  UNION ALL
  SELECT did, 3, 'OEBPS/nav.xhtml', '{nav}' FROM e
  UNION ALL
  SELECT did, 4, 'OEBPS/chapter-1.xhtml', {chap('1', 'c1')} FROM e
  UNION ALL
  SELECT did, 5, 'OEBPS/chapter-2.xhtml', {chap('2', 'c2')} FROM e
)
SELECT did AS doc_id, CAST(o AS INTEGER) AS ord, member,
       md5(content) AS content_md5,
       CAST(length(content) AS BIGINT) AS n_chars
FROM m
"""


TO_EPUB = _to_epub_sql()


def _to_docx_sql() -> str:
    """pdf->docx over the two-chapter corpus (docs >= 24 words): the
    four OPC members restated closed-form — constant
    [Content_Types].xml / _rels/.rels / word/styles.xml, and
    word/document.xml as heading+paragraph WordprocessingML pairs over
    the ceil-half word split (corpus is entity-free, so the escape
    chain is the identity and the oracle may omit it)."""
    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
        'content-types">\n'
        '<Default Extension="rels" ContentType="application/vnd.'
        'openxmlformats-package.relationships+xml"/>\n'
        '<Default Extension="xml" ContentType="application/xml"/>\n'
        '<Override PartName="/word/document.xml" ContentType='
        '"application/vnd.openxmlformats-officedocument.'
        'wordprocessingml.document.main+xml"/>\n'
        '<Override PartName="/word/styles.xml" ContentType='
        '"application/vnd.openxmlformats-officedocument.'
        'wordprocessingml.styles+xml"/>\n'
        '</Types>')
    rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
        '<Relationships xmlns="http://schemas.openxmlformats.org/'
        'package/2006/relationships">\n'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.'
        'org/officeDocument/2006/relationships/officeDocument" '
        'Target="word/document.xml"/>\n'
        '</Relationships>')

    def style(sid: str, name: str) -> str:
        return (f'<w:style w:type="paragraph" w:styleId="{sid}">'
                f'<w:name w:val="{name}"/></w:style>')

    styles = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
        '<w:styles xmlns:w="http://schemas.openxmlformats.org/'
        'wordprocessingml/2006/main">\n'
        + style("Heading1", "heading 1") + "\n"
        + style("Heading2", "heading 2") + "\n"
        + style("ListParagraph", "List Paragraph") + "\n"
        + '</w:styles>')
    head = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
        '<w:document xmlns:w="http://schemas.openxmlformats.org/'
        'wordprocessingml/2006/main">\n<w:body>\n')
    tail = '<w:sectPr/>\n</w:body>\n</w:document>'

    def hpara(text: str) -> str:
        return ('<w:p><w:pPr><w:pStyle w:val="Heading1"/></w:pPr>'
                '<w:r><w:t xml:space="preserve">' + text
                + '</w:t></w:r></w:p>')

    def ppara(words: str) -> str:
        return ("'<w:p><w:r><w:t xml:space=\"preserve\">' || "
                + words + " || '</w:t></w:r></w:p>'")

    doc_expr = ("'" + head + hpara("Chapter 1") + "\n' || "
                + ppara("c1") + " || '\n" + hpara("Chapter 2")
                + "\n' || " + ppara("c2") + " || '\n" + tail + "'")

    return f"""
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         string_split(text, ' ') AS w
  FROM documents WHERE len(string_split(text, ' ')) >= 24
), e AS (
  SELECT did,
         array_to_string(w[1:(len(w)+1)//2], ' ') AS c1,
         array_to_string(w[(len(w)+1)//2+1:], ' ') AS c2
  FROM d
), m AS (
  SELECT did, 0 AS o, '[Content_Types].xml' AS member,
         '{content_types}' AS content FROM e
  UNION ALL
  SELECT did, 1, '_rels/.rels', '{rels}' FROM e
  UNION ALL
  SELECT did, 2, 'word/styles.xml', '{styles}' FROM e
  UNION ALL
  SELECT did, 3, 'word/document.xml', {doc_expr} FROM e
)
SELECT did AS doc_id, CAST(o AS INTEGER) AS ord, member,
       md5(content) AS content_md5,
       CAST(length(content) AS BIGINT) AS n_chars
FROM m
"""


TO_DOCX = _to_docx_sql()


# Training-sequence packing: cumulative whitespace-token offsets in
# doc_id order (the oracle may use the global window DuckDB runs
# single-node anyway; the Spark side uses the two-phase prefix sum),
# then each doc unnests into the 512-token sequences it overlaps.
PACK_SEQUENCES = """
WITH t AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
  WHERE trim(text) <> ''
), c AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
             ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) AS BIGINT) AS tok_off
  FROM t
)
SELECT c.doc_id, c.n_tokens,
       CAST(s.seq_id AS BIGINT) AS seq_id,
       CAST(GREATEST(tok_off, s.seq_id * 512) - s.seq_id * 512
            AS BIGINT) AS tok_start,
       CAST(LEAST(tok_off + n_tokens, (s.seq_id + 1) * 512)
            - GREATEST(tok_off, s.seq_id * 512) AS BIGINT) AS n_in_seq
FROM c, unnest(generate_series(tok_off // 512,
                               (tok_off + n_tokens - 1) // 512))
         AS s(seq_id)
"""


# WAV decode (corpus.media.wav_payload_for_ref): channels/rate/frames/
# amp are pure functions of sha256(ref); the alternating-sign 16-step
# sawtooth makes |sample| statistics closed-form over the N = frames *
# channels interleaved samples (N is always a multiple of 16):
# peak = amp + 15, sum|s| = N*amp + (N/16)*120.
MULTIMODAL_DECODE_WAV = f"""
WITH d AS (
  SELECT DISTINCT 'media-' || substr(sha256(text), 1, 8) AS media_ref
  FROM documents
), p AS (
  SELECT media_ref,
         1 + {_hexb(3)} % 2 AS channels,
         CASE {_hexb(5)} % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
              WHEN 2 THEN 32000 ELSE 48000 END AS rate,
         256 * (1 + {_hexb(7)} % 8) AS frames,
         1000 + 100 * ({_hexb(9)} % 10) AS amp
  FROM (SELECT media_ref, sha256(media_ref) AS h FROM d)
)
SELECT media_ref,
       CAST(channels AS INTEGER) AS channels,
       CAST(rate AS INTEGER) AS sample_rate,
       CAST(frames AS BIGINT) AS n_frames,
       CAST(frames * 1000 // rate AS BIGINT) AS duration_ms,
       CAST(amp + 15 AS BIGINT) AS peak,
       CAST(frames * channels * amp
            + (frames * channels // 16) * 120 AS BIGINT) AS sum_abs
FROM p
"""


# Silence-trim stage (corpus.media.wav_silence_payload_for_ref): the
# fixture prepends pad = 16*(sha256(ref)[5] % 64) zero samples to the
# sawtooth, whose first and last samples are always non-zero (|s| >=
# amp >= 1000), so lead = pad exactly, trail = 0, and the post-trim
# energy/peak are the un-padded fixture's closed forms.
AUDIO_SILENCE_TRIM = f"""
WITH d AS (
  SELECT DISTINCT 'media-' || substr(sha256(text), 1, 8) AS media_ref
  FROM documents
), p AS (
  SELECT media_ref,
         (1 + {_hexb(3)} % 2) * 256 * (1 + {_hexb(7)} % 8) AS n,
         CASE {_hexb(5)} % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
              WHEN 2 THEN 32000 ELSE 48000 END AS rate,
         256 * (1 + {_hexb(7)} % 8) AS frames,
         1000 + 100 * ({_hexb(9)} % 10) AS amp,
         16 * ({_hexb(11)} % 64) AS pad
  FROM (SELECT media_ref, sha256(media_ref) AS h FROM d)
)
SELECT media_ref,
       CAST(pad + n AS BIGINT) AS n_samples,
       CAST(pad AS BIGINT) AS lead_silence,
       CAST(0 AS BIGINT) AS trail_silence,
       CAST(frames * 1000 // rate AS BIGINT) AS trimmed_ms,
       CAST(amp + 15 AS BIGINT) AS peak,
       CAST(n * amp + (n // 16) * 120 AS BIGINT) AS energy_abs
FROM p
"""


# Product-quantization ANN (Jégou et al. 2011): 8 subspaces of 8 dims,
# 8 codewords each — deterministic literal codebooks (the LSH_PLANES /
# IVF_CENTROIDS literal-embedding trick) so the DuckDB oracle encodes
# and ADC-scores bit-identically: per-subspace squared-L2 terms as
# left-associated chains, codes as 1-based first-occurrence argmin,
# approx distance as the explicit 8-term LUT sum.
PQ_M = 8
PQ_K = 8
PQ_SUB = LSH_DIM // PQ_M
PQ_SEED = 11
PQ_CODEBOOKS = [make_planes(PQ_SEED + m, PQ_K, PQ_SUB)
                for m in range(PQ_M)]


def _ann_pq_topk_sql() -> str:
    ids = ", ".join(str(i) for i in ANN_QUERY_IDS)
    dls = ", ".join(
        "[" + ", ".join(
            " + ".join(
                f"(v[{m * PQ_SUB + i + 1}] - ({w!r}))"
                f" * (v[{m * PQ_SUB + i + 1}] - ({w!r}))"
                for i, w in enumerate(cw)
            )
            for cw in PQ_CODEBOOKS[m]
        ) + "]"
        for m in range(PQ_M)
    )
    approx = " + ".join(
        f"q.qdls[{m + 1}][k.code[{m + 1}]]" for m in range(PQ_M))
    return f"""
WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c AS (SELECT id, v, [{dls}] AS dls FROM e),
k AS (SELECT id,
             list_transform(dls, dl -> list_indexof(dl, list_min(dl)))
               AS code
      FROM c),
q AS (SELECT id AS query_id, dls AS qdls FROM c WHERE id IN ({ids})),
s AS (SELECT q.query_id, k.id, {approx} AS approx
      FROM q JOIN k ON k.id <> q.query_id),
r AS (SELECT query_id, id,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY approx ASC, id ASC)
                  AS BIGINT) AS rank
      FROM s)
SELECT query_id, rank, id AS neighbor_id FROM r WHERE rank <= {ANN_K}
"""


ANN_PQ_TOPK = _ann_pq_topk_sql()


def _to_pptx_sql() -> str:
    """pdf->pptx over the two-page corpus (docs >= 24 words): the six
    OPC members restated closed-form — slide-count-2 [Content_Types]/
    presentation/rels skeletons as constants, and the two slide XMLs
    as 'Part N' heading + ceil-half word-split paragraph (corpus is
    entity-free, the escape chain is the identity)."""
    ct = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
        'content-types">\n'
        '<Default Extension="rels" ContentType="application/vnd.'
        'openxmlformats-package.relationships+xml"/>\n'
        '<Default Extension="xml" ContentType="application/xml"/>\n'
        '<Override PartName="/ppt/presentation.xml" ContentType='
        '"application/vnd.openxmlformats-officedocument.'
        'presentationml.presentation.main+xml"/>\n'
        + "".join(
            f'<Override PartName="/ppt/slides/slide{i}.xml" '
            'ContentType="application/vnd.openxmlformats-'
            'officedocument.presentationml.slide+xml"/>\n'
            for i in (1, 2))
        + '</Types>')
    rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
        '<Relationships xmlns="http://schemas.openxmlformats.org/'
        'package/2006/relationships">\n'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.'
        'org/officeDocument/2006/relationships/officeDocument" '
        'Target="ppt/presentation.xml"/>\n'
        '</Relationships>')
    pres = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
        '<p:presentation xmlns:p="http://schemas.openxmlformats.org/'
        'presentationml/2006/main" xmlns:r="http://schemas.'
        'openxmlformats.org/officeDocument/2006/relationships">\n'
        '<p:sldIdLst>\n'
        '<p:sldId id="256" r:id="rId1"/>\n'
        '<p:sldId id="257" r:id="rId2"/>\n'
        '</p:sldIdLst>\n</p:presentation>')
    pres_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
        '<Relationships xmlns="http://schemas.openxmlformats.org/'
        'package/2006/relationships">\n'
        + "".join(
            f'<Relationship Id="rId{i}" Type="http://schemas.'
            'openxmlformats.org/officeDocument/2006/relationships/'
            f'slide" Target="slides/slide{i}.xml"/>\n'
            for i in (1, 2))
        + '</Relationships>')
    slide_head = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
        '<p:sld xmlns:a="http://schemas.openxmlformats.org/drawingml/'
        '2006/main" xmlns:p="http://schemas.openxmlformats.org/'
        'presentationml/2006/main">\n'
        '<p:cSld><p:spTree>\n<p:sp><p:txBody>\n')
    slide_tail = '</p:txBody></p:sp>\n</p:spTree></p:cSld>\n</p:sld>'

    def slide(part: int, words: str) -> str:
        return ("'" + slide_head
                + f'<a:p><a:r><a:rPr b="1" sz="3200"/><a:t>Part {part}'
                  '</a:t></a:r></a:p>\n'
                  "<a:p><a:r><a:rPr/><a:t>' || " + words
                + " || '</a:t></a:r></a:p>\n" + slide_tail + "'")

    return f"""
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         string_split(text, ' ') AS w
  FROM documents WHERE len(string_split(text, ' ')) >= 24
), e AS (
  SELECT did,
         array_to_string(w[1:(len(w)+1)//2], ' ') AS c1,
         array_to_string(w[(len(w)+1)//2+1:], ' ') AS c2
  FROM d
), m AS (
  SELECT did, 0 AS o, '[Content_Types].xml' AS member,
         '{ct}' AS content FROM e
  UNION ALL
  SELECT did, 1, '_rels/.rels', '{rels}' FROM e
  UNION ALL
  SELECT did, 2, 'ppt/presentation.xml', '{pres}' FROM e
  UNION ALL
  SELECT did, 3, 'ppt/_rels/presentation.xml.rels', '{pres_rels}' FROM e
  UNION ALL
  SELECT did, 4, 'ppt/slides/slide1.xml', {slide(1, 'c1')} FROM e
  UNION ALL
  SELECT did, 5, 'ppt/slides/slide2.xml', {slide(2, 'c2')} FROM e
)
SELECT did AS doc_id, CAST(o AS INTEGER) AS ord, member,
       md5(content) AS content_md5,
       CAST(length(content) AS BIGINT) AS n_chars
FROM m
"""


TO_PPTX = _to_pptx_sql()


def _ann_ivfpq_topk_sql(nprobe: int = IVF_NPROBE) -> str:
    """IVF-PQ: the IVF oracle's probe CTE composed with the PQ
    oracle's ADC sum — candidates from the nprobe nearest cells,
    ranked by the 8-term LUT distance."""
    ids = ", ".join(str(i) for i in ANN_QUERY_IDS)
    cdl = ", ".join(
        " + ".join(
            f"(v[{i + 1}] - ({w!r})) * (v[{i + 1}] - ({w!r}))"
            for i, w in enumerate(c)
        )
        for c in IVF_CENTROIDS
    )
    dls = ", ".join(
        "[" + ", ".join(
            " + ".join(
                f"(v[{m * PQ_SUB + i + 1}] - ({w!r}))"
                f" * (v[{m * PQ_SUB + i + 1}] - ({w!r}))"
                for i, w in enumerate(cw)
            )
            for cw in PQ_CODEBOOKS[m]
        ) + "]"
        for m in range(PQ_M)
    )
    approx = " + ".join(
        f"qp.qdls[{m + 1}][a.code[{m + 1}]]" for m in range(PQ_M))
    return f"""
WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c AS (SELECT id, v, [{cdl}] AS cdl, [{dls}] AS dls FROM e),
a AS (SELECT id, list_indexof(cdl, list_min(cdl)) AS cluster,
             list_transform(dls, dl -> list_indexof(dl, list_min(dl)))
               AS code
      FROM c),
q0 AS (SELECT id AS query_id, cdl AS qcdl, dls AS qdls FROM c
       WHERE id IN ({ids})),
qp AS (
  SELECT query_id, qdls, i AS probe,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY qcdl[i] ASC, i ASC) AS pr
  FROM q0, unnest(range(1, {IVF_K} + 1)) AS t(i)
),
s AS (
  SELECT qp.query_id, a.id, {approx} AS approx
  FROM qp JOIN a ON a.cluster = qp.probe
  WHERE qp.pr <= {nprobe} AND a.id <> qp.query_id
),
r AS (SELECT query_id, id,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY approx ASC, id ASC)
                  AS BIGINT) AS rank
      FROM s)
SELECT query_id, rank, id AS neighbor_id FROM r WHERE rank <= {ANN_K}
"""


ANN_IVFPQ_TOPK = _ann_ivfpq_topk_sql()


# ExactSubstr-style duplicate-substring coverage (Lee et al. 2022):
# dup = global w-shingle frequency >= 2; covered tokens = union of
# fixed-length intervals at dup positions via the sorted-positions
# fold min(w, next - pos).
DEDUP_SUBSTRING_COV = """
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS w
  FROM documents WHERE trim(text) <> ''
), t AS (
  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens, w FROM d
), s AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         array_to_string(w[i+1 : i+8], ' ') AS sh
  FROM t, unnest(range(0, greatest(len(w) - 7, 0))) AS u(i)
), c AS (
  SELECT sh FROM s GROUP BY sh HAVING count(*) >= 2
), p AS (
  SELECT s.doc_id, s.pos FROM s JOIN c USING (sh)
), g AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_starts,
         CAST(SUM(LEAST(8, COALESCE(nxt - pos, 8))) AS BIGINT)
           AS dup_cov
  FROM (SELECT doc_id, pos,
               lead(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                 AS nxt
        FROM p)
  GROUP BY doc_id
)
SELECT t.doc_id, t.n_tokens,
       COALESCE(g.dup_starts, 0) AS dup_starts,
       COALESCE(g.dup_cov, 0) AS dup_cov,
       CAST(CASE WHEN COALESCE(g.dup_cov, 0) * 2 < t.n_tokens
                 THEN 1 ELSE 0 END AS INTEGER) AS keep
FROM t LEFT JOIN g USING (doc_id)
"""



# Unicode NFC normalization: the crafted NFD tails restated as their
# COMPOSED forms (closed-form, independent of any normalizer library);
# the ASCII document body is NFC-invariant so concatenation is exact.
_NFC_TAILS = ("caf\u00e9", "\u00fcber", "\u00c5ngstr\u00f6m")
_NFD_TAIL_LENS = (5, 5, 10)  # decomposed char counts appended Spark-side

TEXT_NFC_NORMALIZE = f"""
WITH t AS (
  SELECT doc_id,
         text || ' ' || CASE doc_id % 3
             WHEN 0 THEN '{_NFC_TAILS[0]}'
             WHEN 1 THEN '{_NFC_TAILS[1]}'
             ELSE '{_NFC_TAILS[2]}' END AS ntext,
         CAST(length(text) + 1 + CASE doc_id % 3
             WHEN 0 THEN {_NFD_TAIL_LENS[0]}
             WHEN 1 THEN {_NFD_TAIL_LENS[1]}
             ELSE {_NFD_TAIL_LENS[2]} END AS BIGINT) AS n_chars_src
  FROM documents
)
SELECT doc_id, n_chars_src,
       CAST(length(ntext) AS BIGINT) AS n_chars_nfc,
       CAST(n_chars_src - length(ntext) AS INTEGER) AS n_composed,
       md5(ntext) AS text_md5
FROM t
"""


# ISO-BMFF probe (corpus.media.mp4_payload_for_ref): every field is a
# pure function of sha256(ref); duration_ms floors exactly like the
# kernel (duration * 1000 // timescale, both nonnegative ints).
MULTIMODAL_PROBE_MP4 = f"""
WITH d AS (
  SELECT DISTINCT 'media-' || substr(sha256(text), 1, 8) AS media_ref
  FROM documents
), p AS (
  SELECT media_ref,
         CASE {_hexb(3)} % 4 WHEN 0 THEN 'isom' WHEN 1 THEN 'mp42'
              WHEN 2 THEN 'avc1' ELSE 'dash' END AS brand,
         CASE {_hexb(5)} % 4 WHEN 0 THEN 600 WHEN 1 THEN 1000
              WHEN 2 THEN 90000 ELSE 48000 END AS ts,
         1 + {_hexb(7)} % 30 AS dur_s,
         {_hexb(9)} * 7 AS dur_extra,
         {_hexb(11)} % 3 AS layout,
         16 * (4 + {_hexb(13)} % 60) AS w,
         16 * (3 + {_hexb(15)} % 40) AS hgt
  FROM (SELECT media_ref, sha256(media_ref) AS h FROM d)
)
SELECT media_ref,
       brand AS major_brand,
       CAST(ts AS INTEGER) AS timescale,
       CAST((ts * dur_s + dur_extra) * 1000 // ts AS BIGINT)
         AS duration_ms,
       CAST(CASE layout WHEN 1 THEN 2 ELSE 1 END AS INTEGER)
         AS n_tracks,
       CAST(CASE WHEN layout IN (0, 1) THEN 1 ELSE 0 END AS INTEGER)
         AS n_video,
       CAST(CASE WHEN layout IN (1, 2) THEN 1 ELSE 0 END AS INTEGER)
         AS n_audio,
       CAST(CASE WHEN layout IN (0, 1) THEN w END AS INTEGER)
         AS width,
       CAST(CASE WHEN layout IN (0, 1) THEN hgt END AS INTEGER)
         AS height
FROM p
"""


# Content-hash holdout split: first 4 md5 bytes (= first 8 hex chars,
# big-endian) as an integer, permille bucket, 98/1/1 thresholds.
CORPUS_HASH_SPLIT = """
WITH b AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(text), 1, 8))::BIGINT % 1000
              AS BIGINT) AS bucket
  FROM documents
)
SELECT doc_id, bucket,
       CASE WHEN bucket < 980 THEN 'train'
            WHEN bucket < 990 THEN 'val'
            ELSE 'test' END AS split
FROM b
"""

# JSONL serialization: the corpus is printable-ASCII without quotes
# or backslashes (verified), so JSON string escaping is the identity
# and the record restates closed-form; Spark runs its REAL JVM-side
# to_json serializer.
CORPUS_TO_JSONL = """
SELECT doc_id,
       '{"doc_id":' || CAST(doc_id AS VARCHAR)
         || ',"text":"' || text || '"}' AS line
FROM documents
"""


# Decode-stage error isolation: each corruption mode (sha byte 8 % 4)
# hits a distinct kernel guard; the per-row reasons are the kernels'
# own messages, pinned end-to-end.
MULTIMODAL_DECODE_ERRORS = f"""
WITH d AS (
  SELECT DISTINCT 'media-' || substr(sha256(text), 1, 8) AS media_ref
  FROM documents
), m AS (
  SELECT media_ref, {_hexb(17)} % 4 AS mode
  FROM (SELECT media_ref, sha256(media_ref) AS h FROM d)
)
SELECT media_ref,
       'bad' || CAST(mode AS VARCHAR) AS fmt,
       CASE mode WHEN 0 THEN 'non-PCM wFormatTag=3'
            WHEN 1 THEN 'not a RIFF container'
            WHEN 2 THEN 'missing moov/mvhd'
            ELSE 'tkhd version=2' END AS reason
FROM m
"""


# BPE iteration-1 pair statistics: word-frequency table first, then
# char bigrams + the last-char||'</w>' marker pair, weighted by freq.
BPE_PAIR_COUNTS = """
WITH w AS (
  SELECT word, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE word <> ''
  GROUP BY word
), p AS (
  SELECT substr(word, CAST(i AS INTEGER), 2) AS pair, freq
  FROM w, unnest(range(1, length(word))) AS u(i)
  WHERE length(word) >= 2
  UNION ALL
  SELECT substr(word, length(word), 1) || '</w>', freq FROM w
), c AS (
  SELECT pair, CAST(SUM(freq) AS BIGINT) AS total FROM p GROUP BY pair
), r AS (
  SELECT CAST(row_number() OVER (ORDER BY total DESC, pair ASC)
              AS BIGINT) AS rank,
         pair, total
  FROM c
)
SELECT rank, pair, total FROM r WHERE rank <= 20
"""


# Composed training-corpus pipeline: Gopher rules (over RAW text, no
# crafted tails) -> first-occurrence exact dedup -> train hash slice
# -> 512-token packing. Pins stage ORDER and survivor sets; each
# stage's rules have their own dedicated oracles.
PIPELINE_TRAINING_CORPUS = r"""
WITH src AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 IN (4, 5) THEN
                trim(repeat('the of and that have with be to ', 7))
              WHEN doc_id % 2 = 0 THEN
                text || ' the of and that have'
              ELSE text END AS text
  FROM documents
), f AS (
  SELECT doc_id, text,
         string_split_regex(text, '\s+') AS w,
         string_split(text, chr(10)) AS lines
  FROM src
), m AS (
  SELECT doc_id,
         CAST(len(w) AS BIGINT) AS n,
         CAST(list_aggregate(list_transform(w, x -> length(x)), 'sum')
              AS BIGINT) AS chars,
         CAST(length(text) - length(replace(text, '#', ''))
              AS BIGINT) AS n_hash,
         CAST(len(regexp_extract_all(text, '\.\.\.'))
              AS BIGINT) AS n_ell,
         CAST(len(lines) AS BIGINT) AS n_lines,
         CAST(len(list_filter(lines,
              x -> regexp_matches(x, '^\s*[-*]'))) AS BIGINT) AS bullets,
         CAST(len(list_filter(lines,
              x -> regexp_matches(x, '\.\.\.$'))) AS BIGINT) AS ell_ends,
         CAST(len(list_filter(w,
              x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS alpha,
         CAST(len(list_intersect(list_distinct(w),
              ['the','be','to','of','and','that','have','with']))
              AS BIGINT) AS n_stop
  FROM f
), k AS (
  SELECT f.doc_id, f.text
  FROM f JOIN m USING (doc_id)
  WHERE m.n >= 50 AND m.n <= 100000
    AND 3 * m.n <= m.chars AND m.chars <= 10 * m.n
    AND 10 * (m.n_hash + m.n_ell) <= m.n
    AND 10 * m.bullets <= 9 * m.n_lines
    AND 10 * m.ell_ends <= 3 * m.n_lines
    AND 5 * m.alpha >= 4 * m.n
    AND m.n_stop >= 2
), dd AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           min(doc_id) OVER (PARTITION BY md5(text)) AS fid
    FROM k) WHERE doc_id = fid
), tr AS (
  SELECT doc_id, text FROM dd
  WHERE ('0x' || substr(md5(text), 1, 8))::BIGINT % 1000 < 980
), t AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM tr WHERE trim(text) <> ''
), c AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
             ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) AS BIGINT) AS tok_off
  FROM t
)
SELECT c.doc_id, c.n_tokens,
       CAST(s.seq_id AS BIGINT) AS seq_id,
       CAST(GREATEST(tok_off, s.seq_id * 512) - s.seq_id * 512
            AS BIGINT) AS tok_start,
       CAST(LEAST(tok_off + n_tokens, (s.seq_id + 1) * 512)
            - GREATEST(tok_off, s.seq_id * 512) AS BIGINT) AS n_in_seq
FROM c, unnest(generate_series(tok_off // 512,
                               (tok_off + n_tokens - 1) // 512))
         AS s(seq_id)
"""


# Language-balanced hash-thinning: per-language counts set an integer
# permille rate floor(target*1000/n); keep iff the content-hash
# permille (hash_split's bucket) is under the rate.
LANG_BALANCE_SAMPLE = """
WITH c AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_lang
  FROM documents GROUP BY lang
), b AS (
  SELECT d.doc_id AS id, d.lang, c.n_lang,
         CAST(('0x' || substr(md5(d.text), 1, 8))::BIGINT % 1000
              AS BIGINT) AS bucket,
         LEAST(1000, CAST(FLOOR(70 * 1000 / c.n_lang) AS BIGINT))
           AS rate
  FROM documents d JOIN c USING (lang)
)
SELECT id, lang, n_lang, bucket,
       CAST(CASE WHEN bucket < rate THEN 1 ELSE 0 END AS INTEGER)
         AS keep
FROM b
"""


# Incremental-crawl dedup: existing = the corpus; the new batch
# derives per doc_id%3 — 0: exact copy of the doc's own existing text
# (dropped as in_existing), 1: novel unique text (kept), 2: one
# constant novel block shared by all mode-2 docs (exactly the lowest
# id keeps — the batch-internal dedup path).
DEDUP_INCREMENTAL = """
WITH newb AS (
  SELECT doc_id + 10000 AS id,
         CASE doc_id % 3
           WHEN 0 THEN text
           WHEN 1 THEN text || ' fresh crawl content'
           ELSE 'constant repeated batch block payload' END AS text
  FROM documents
), ex AS (
  SELECT DISTINCT md5(text) AS h FROM documents
), n AS (
  SELECT id, md5(text) AS h FROM newb
), f AS (
  SELECT h, min(id) AS fid FROM n GROUP BY h
)
SELECT n.id AS doc_id,
       CAST(CASE WHEN ex.h IS NOT NULL THEN 1 ELSE 0 END AS INTEGER)
         AS in_existing,
       CAST(CASE WHEN n.id = f.fid THEN 1 ELSE 0 END AS INTEGER)
         AS batch_first,
       CAST(CASE WHEN ex.h IS NULL AND n.id = f.fid THEN 1 ELSE 0 END
            AS INTEGER) AS keep
FROM n LEFT JOIN ex ON n.h = ex.h JOIN f ON n.h = f.h
"""


# Per-sequence boundary metadata: the packing oracle re-grouped by
# sequence (nested WITH inside the subquery is valid DuckDB).
PACK_SEQ_BOUNDARIES = f"""
WITH p AS ({PACK_SEQUENCES})
SELECT seq_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       list(tok_start ORDER BY tok_start) AS boundaries,
       CAST(sum(n_in_seq) AS BIGINT) AS n_tokens
FROM p GROUP BY seq_id
"""


# Full BPE training loop, unrolled: 6 iterations, each one pair-count
# aggregation + argmax + the widened-separator rewrite
# (textstats._bpe_apply_merge's exact-canonical-pairing trick:
# double-space the separators so the pattern ' lhs  rhs ' consumes
# one space per side and leftmost replace() re-acquires back-to-back
# occurrences — same-symbol runs pair canonically in one pass). Every
# intermediate is MATERIALIZED — without it DuckDB inlines each CTE
# at every reference site and the multi-reference-per-iteration chain
# re-evaluates the whole prefix exponentially.
_BPE_N_MERGES = 6


def _bpe_train_prefix(n: int) -> str:
    parts = ["""WITH w AS (
  SELECT word, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE word <> '' GROUP BY word
), v0 AS MATERIALIZED (
  SELECT word, freq,
         regexp_replace(word, '(.)', '\\1 ', 'g') || '</w>' AS seq
  FROM w
)"""]
    for i in range(1, n + 1):
        parts.append(f""", p{i} AS MATERIALIZED (
  SELECT s.t[CAST(u.j AS INTEGER)] || ' '
           || s.t[CAST(u.j AS INTEGER) + 1] AS pair, s.freq
  FROM (SELECT freq, string_split(seq, ' ') AS t FROM v{i - 1}) s,
       unnest(range(1, len(s.t))) AS u(j)
), b{i} AS MATERIALIZED (
  SELECT pair, CAST(SUM(freq) AS BIGINT) AS total
  FROM p{i} GROUP BY pair ORDER BY total DESC, pair ASC LIMIT 1
), v{i} AS MATERIALIZED (
  SELECT word, freq,
    trim(replace(replace(
         ' ' || replace(seq, ' ', '  ') || ' ',
         ' ' || replace((SELECT pair FROM b{i}), ' ', '  ') || ' ',
         ' ' || replace((SELECT pair FROM b{i}), ' ', '') || ' '),
         '  ', ' ')) AS seq
  FROM v{i - 1}
)""")
    return "".join(parts)


def _bpe_train_table_sql(n: int = _BPE_N_MERGES) -> str:
    union = "\n  UNION ALL\n".join(
        f"  SELECT {i} AS rank, (SELECT pair FROM b{i}) AS pair,"
        f" (SELECT total FROM b{i}) AS total"
        for i in range(1, n + 1))
    return _bpe_train_prefix(n) + f""", m AS (
{union}
)
SELECT CAST(rank AS BIGINT) AS rank,
       split_part(pair, ' ', 1) AS lhs,
       split_part(pair, ' ', 2) AS rhs,
       replace(pair, ' ', '') AS merged, total
FROM m
"""


def _bpe_encode_tokens_sql(n: int = _BPE_N_MERGES) -> str:
    return _bpe_train_prefix(n) + f""", sy AS (
  SELECT freq, unnest(string_split(seq, ' ')) AS symbol FROM v{n}
), c AS (
  SELECT symbol, CAST(SUM(freq) AS BIGINT) AS total
  FROM sy GROUP BY symbol
), r AS (
  SELECT CAST(row_number() OVER (ORDER BY total DESC, symbol ASC)
              AS BIGINT) AS rank, symbol, total FROM c
)
SELECT rank, symbol, total FROM r WHERE rank <= 25
"""


BPE_TRAIN_TABLE = _bpe_train_table_sql()
BPE_ENCODE_TOKENS = _bpe_encode_tokens_sql()


def _quality_classifier_sql() -> str:
    """Hashed linear classifier oracle: same QC_WEIGHTS constants
    (imported, the sanctioned shared-constant pattern), independent
    md5-bucket + list fold. Integer weights make the sum exact on
    both engines regardless of reduction order."""
    from ..operators.textstats import QC_BUCKETS, QC_WEIGHTS

    wlit = "[" + ", ".join(str(w) for w in QC_WEIGHTS) + "]"
    return f"""
WITH t AS (
  SELECT doc_id,
         string_split_regex(trim(text), '\\s+') AS w
  FROM documents
), s AS (
  SELECT doc_id,
         CAST(len(w) AS BIGINT) AS n_tokens,
         CAST(list_aggregate(list_transform(w, x ->
              {wlit}[CAST(('0x' || substr(md5(x), 1, 8))::BIGINT
                          % {QC_BUCKETS} AS INTEGER) + 1]), 'sum')
              AS BIGINT) AS score
  FROM t
)
SELECT doc_id AS id, n_tokens, score,
       CAST(CASE WHEN score > 0 THEN 1 ELSE 0 END AS INTEGER) AS label
FROM s
"""


QUALITY_CLASSIFIER_SCORE = _quality_classifier_sql()


def _quality_ensemble_sql() -> str:
    """Majority-vote ensemble oracle: the hashed-classifier label,
    the bigram-LM corpus-mean head and the length head, each derived
    exactly as its standalone oracle, voted >= 2."""
    from ..operators.textstats import QC_BUCKETS, QC_WEIGHTS

    wlit = "[" + ", ".join(str(w) for w in QC_WEIGHTS) + "]"
    return f"""
WITH t AS (
  SELECT CAST(doc_id AS BIGINT) AS id,
         string_split_regex(trim(text), '\\s+') AS w
  FROM documents
), clf AS (
  SELECT id,
         CAST(len(w) AS BIGINT) AS n_tokens,
         CAST(list_aggregate(list_transform(w, x ->
              {wlit}[CAST(('0x' || substr(md5(x), 1, 8))::BIGINT
                          % {QC_BUCKETS} AS INTEGER) + 1]), 'sum')
              AS BIGINT) AS score
  FROM t
), g AS (
  SELECT id, w[i] AS w1, w[i] || ' ' || w[i + 1] AS gm
  FROM t, unnest(range(1, len(w))) AS q(i)
  WHERE len(w) >= 2
), c12 AS (
  SELECT gm, count(*) AS c12 FROM g GROUP BY gm
), c1 AS (
  SELECT w1, count(*) AS c1 FROM g GROUP BY w1
), fitagg AS (
  SELECT g.id, CAST(count(*) AS BIGINT) AS n_bigrams,
         SUM((1000 * c12.c12) // c1.c1) AS p_sum
  FROM g JOIN c12 USING (gm) JOIN c1 USING (w1)
  GROUP BY g.id
), fit AS (
  SELECT t.id,
         CAST(COALESCE(fitagg.p_sum // fitagg.n_bigrams, 0) AS BIGINT)
           AS fit_x1000
  FROM t LEFT JOIN fitagg ON fitagg.id = t.id
), lmstats AS (
  SELECT sum(fit_x1000) AS sum_fit, count(*) AS n_docs FROM fit
), lstats AS (
  SELECT sum(n_tokens) AS tot_tok, count(*) AS n_docs FROM clf
), v AS (
  SELECT clf.id,
         CAST(CASE WHEN clf.score > 0 THEN 1 ELSE 0 END AS BIGINT)
           AS label,
         CAST(CASE WHEN fit.fit_x1000 * lmstats.n_docs
                        >= lmstats.sum_fit THEN 1 ELSE 0 END AS BIGINT)
           AS head,
         CAST(CASE WHEN clf.n_tokens * lstats.n_docs >= lstats.tot_tok
                   THEN 1 ELSE 0 END AS BIGINT) AS len_head
  FROM clf
  JOIN fit ON fit.id = clf.id
  CROSS JOIN lmstats CROSS JOIN lstats
)
SELECT id, label, head, len_head,
       CAST(label + head + len_head AS BIGINT) AS votes,
       CAST(CASE WHEN label + head + len_head >= 2
            THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM v
"""


QUALITY_ENSEMBLE = _quality_ensemble_sql()


def _winnow_fps_cte(k: int = 3, w: int = 4) -> str:
    """Shared winnowing CTE (Schleimer et al. 2003): k-word shingle
    hashes (the repo-standard md5-prefix integer hash), window-of-w
    minima, per-doc distinct. Docs shorter than k words emit nothing;
    docs with fewer than w shingles emit the single global minimum —
    both matching the Spark operator's conventions."""
    gram = " || ' ' || ".join(f"wd[i + {j}]" for j in range(k))
    return f"""
d AS (SELECT doc_id AS id, string_split(text, ' ') AS wd FROM documents),
h AS (
  SELECT id,
         list_transform(range(1, len(wd) - {k} + 2), i ->
           CAST(('0x' || substr(md5({gram}), 1, 8)) AS BIGINT)) AS hs
  FROM d WHERE len(wd) >= {k}
), s AS (
  SELECT id,
         list_distinct(list_transform(
           range(1, CASE WHEN len(hs) < {w} THEN 1
                         ELSE len(hs) - {w} + 1 END + 1),
           j -> list_aggregate(hs[j:j + {w - 1}], 'min'))) AS fps
  FROM h
), f AS (SELECT id, unnest(fps) AS fp FROM s)
"""


FINGERPRINT_WINNOW = f"""
WITH {_winnow_fps_cte()}
SELECT id, fp FROM f
"""

WINNOW_MATCH_PAIRS = f"""
WITH {_winnow_fps_cte()}
SELECT a.id AS id_a, b.id AS id_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM f a JOIN f b ON a.fp = b.fp AND a.id < b.id
GROUP BY 1, 2
HAVING count(*) >= 2
"""


def _corpus_stats_sql(bucket_tokens: int = 64, n_buckets: int = 8) -> str:
    """Data-card oracle: the lang_id stopword-argmax inline (same
    constants via LANG_STOPWORDS import), length-bucketed integer
    aggregates. strlen = BYTES in DuckDB, matching Spark
    octet_length."""
    score_cols = []
    for lang in LANGS:
        vals = ", ".join(f"'{s}'" for s in LANG_STOPWORDS[lang])
        score_cols.append(
            f"len(list_filter(w, x -> x IN ({vals}))) AS s_{lang}"
        )
    best = "GREATEST({})".format(
        ", ".join(f"s_{lang}" for lang in LANGS))
    pred = "CASE WHEN best <= 0 THEN 'und' " + " ".join(
        f"WHEN s_{lang} = best THEN '{lang}'" for lang in LANGS
    ) + " END"
    return f"""
WITH d AS (
  SELECT string_split(text, ' ') AS w,
         CAST(strlen(text) AS BIGINT) AS n_bytes
  FROM documents
), s AS (SELECT w, n_bytes, {', '.join(score_cols)} FROM d),
b AS (SELECT *, {best} AS best FROM s),
p AS (
  SELECT {pred} AS lang,
         CAST(LEAST(len(w) // {bucket_tokens}, {n_buckets - 1})
              AS BIGINT) AS len_bucket,
         CAST(len(w) AS BIGINT) AS n_tokens,
         n_bytes
  FROM b
)
SELECT lang, len_bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       CAST(sum(n_bytes) AS BIGINT) AS sum_bytes,
       CAST(min(n_tokens) AS BIGINT) AS min_tokens,
       CAST(max(n_tokens) AS BIGINT) AS max_tokens
FROM p
GROUP BY lang, len_bucket
"""


CORPUS_STATS_REPORT = _corpus_stats_sql()


def _qc_train_ctes() -> str:
    """Shared CTE chain for classifier training: lang_id argmax
    labels (en = positive), token->bucket hashing, per-bucket class
    counts, ppm rate-difference weights — mirroring
    textstats.train_quality_classifier over the same constants."""
    from ..operators.textstats import LANG_STOPWORDS, LANGS, QC_BUCKETS

    score_cols = []
    for lang in LANGS:
        vals = ", ".join(f"'{s}'" for s in LANG_STOPWORDS[lang])
        score_cols.append(
            f"len(list_filter(w, x -> x IN ({vals}))) AS s_{lang}"
        )
    best = "GREATEST({})".format(
        ", ".join(f"s_{lang}" for lang in LANGS))
    pred = "CASE WHEN best <= 0 THEN 'und' " + " ".join(
        f"WHEN s_{lang} = best THEN '{lang}'" for lang in LANGS
    ) + " END"
    return f"""
d AS (SELECT string_split(text, ' ') AS w FROM documents),
s AS (SELECT w, {', '.join(score_cols)} FROM d),
b AS (SELECT *, {best} AS best FROM s),
l AS (SELECT w, CASE WHEN ({pred}) = 'en' THEN 1 ELSE 0 END AS y FROM b),
t AS (SELECT y, unnest(w) AS tk FROM l),
k AS (SELECT CAST(('0x' || substr(md5(tk), 1, 8))::BIGINT
                  % {QC_BUCKETS} AS BIGINT) AS bucket, y FROM t),
a AS (SELECT bucket,
             CAST(SUM(y) AS BIGINT) AS n_pos,
             CAST(SUM(1 - y) AS BIGINT) AS n_neg
      FROM k GROUP BY bucket),
tot AS (SELECT GREATEST(CAST(SUM(n_pos) AS BIGINT), 1) AS tp,
               GREATEST(CAST(SUM(n_neg) AS BIGINT), 1) AS tn
        FROM a),
wts AS (SELECT bucket, n_pos, n_neg,
               CAST(n_pos * 1000000 // tp
                    - n_neg * 1000000 // tn AS BIGINT) AS weight
        FROM a, tot)
"""


QUALITY_CLASSIFIER_TRAIN = f"""
WITH {_qc_train_ctes()}
SELECT bucket, n_pos, n_neg, weight FROM wts
"""


def _qc_trained_score_sql() -> str:
    from ..operators.textstats import QC_BUCKETS

    return f"""
WITH {_qc_train_ctes()},
w8 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
dt AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
              unnest(w) AS tk FROM w8),
db AS (SELECT doc_id, n_tokens,
              CAST(('0x' || substr(md5(tk), 1, 8))::BIGINT
                   % {QC_BUCKETS} AS BIGINT) AS bucket FROM dt),
sc AS (SELECT db.doc_id,
              CAST(MAX(db.n_tokens) AS BIGINT) AS n_tokens,
              CAST(SUM(COALESCE(wt.weight, 0)) AS BIGINT) AS score
       FROM db LEFT JOIN wts wt USING (bucket)
       GROUP BY db.doc_id)
SELECT doc_id AS id, n_tokens, score,
       CAST(CASE WHEN score > 0 THEN 1 ELSE 0 END AS INTEGER) AS label
FROM sc
"""


QUALITY_CLASSIFIER_TRAINED_SCORE = _qc_trained_score_sql()


# ------------------------------------------------- round 5, sixth session

# Run-level rollup of the checkpoint runtime's metrics view
# (runtime/checkpoint.py read_metrics): run-1 extracts the full corpus,
# the immediately repeated run-2 resumes to an EMPTY pending set and
# has no metrics row for run-2 — idempotency is visible as the absence
# of a second run_id. docs = every corpus row (extract emits one span row
# per doc, empty-span docs included); spans = the span-counts oracle
# summed over all kinds.
EXTRACT_LINEAGE_METRICS = f"""
WITH sc AS ({EXTRACT_SPAN_COUNTS})
SELECT 'run-1' AS run_id,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS docs,
       CAST(SUM(n_spans) AS BIGINT) AS spans
FROM sc
"""

# Span-sequence equality validator (the north rule's per-row
# invariant as a first-class operator): side B perturbs the text-span
# view — docs with num % 7 = 0 get span text_rank = num % 3 prefixed
# 'EDITED ', docs with num % 11 = 0 lose their LAST span — and the
# diff must localize exactly those divergences per document.
EXTRACT_SPAN_DIFF = f"""
WITH a0 AS ({EXTRACT_TEXT_SPANS}),
a AS (SELECT doc_id, text_rank, text,
             CAST(substr(doc_id, 5) AS BIGINT) AS num FROM a0),
b0 AS (SELECT doc_id, text_rank, num,
              CASE WHEN num % 7 = 0 AND text_rank = num % 3
                   THEN 'EDITED ' || text ELSE text END AS text,
              MAX(text_rank) OVER (PARTITION BY doc_id) AS max_rank
       FROM a),
b AS (SELECT doc_id, text_rank, text FROM b0
      WHERE NOT (num % 11 = 0 AND text_rank = max_rank)),
j AS (
  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
         COALESCE(a.text_rank, b.text_rank) AS ord,
         CASE WHEN a.doc_id IS NULL OR b.doc_id IS NULL
                   OR a.text IS DISTINCT FROM b.text
              THEN 1 ELSE 0 END AS mism,
         CASE WHEN a.doc_id IS NULL THEN 0 ELSE 1 END AS in_a,
         CASE WHEN b.doc_id IS NULL THEN 0 ELSE 1 END AS in_b
  FROM a FULL OUTER JOIN b
    ON a.doc_id = b.doc_id AND a.text_rank = b.text_rank
)
SELECT doc_id,
       CAST(SUM(in_a) AS BIGINT) AS n_a,
       CAST(SUM(in_b) AS BIGINT) AS n_b,
       CAST(SUM(mism) AS BIGINT) AS n_mismatch,
       CAST(CASE WHEN SUM(mism) = 0 THEN 1 ELSE 0 END AS INTEGER)
         AS equal,
       CAST(COALESCE(MIN(CASE WHEN mism = 1 THEN ord END), -1) AS BIGINT)
         AS first_diverge
FROM j GROUP BY doc_id
"""

# Quality-aware canonical selection: per near-dup component keep the
# LONGEST member (byte length, min-id ties) instead of the min id —
# the keep-best idiom from published LLM dedup recipes.
DEDUP_KEEP_BEST = f"""
WITH comp AS ({DEDUP_COMPONENTS}),
j AS (
  SELECT c.id, c.component, CAST(strlen(d.text) AS BIGINT) AS doc_bytes
  FROM comp c JOIN documents d ON c.id = d.doc_id
)
SELECT CAST(id AS BIGINT) AS doc_id, doc_bytes,
       CAST(COUNT(*) OVER (PARTITION BY component) - 1 AS BIGINT)
         AS n_absorbed
FROM j
QUALIFY ROW_NUMBER() OVER (PARTITION BY component
                           ORDER BY doc_bytes DESC, id) = 1
"""

# UT1-style domain blocklist filter: docs whose URL tail was appended
# (num % 5 <> 0) carry site(n%7).example.com + www.mirror(n%7).org; an
# entry blocks a host when equal OR a dot-suffix ('mirror3.org' blocks
# 'www.mirror3.org'); URL-less docs pass.
URL_BLOCKLIST_FILTER = """
WITH m AS (SELECT doc_id AS n FROM documents),
u AS (
  SELECT n, 'site' || (n % 7) || '.example.com' AS domain
  FROM m WHERE n % 5 <> 0
  UNION ALL
  SELECT n, 'www.mirror' || (n % 7) || '.org' FROM m WHERE n % 5 <> 0
),
b(dom) AS (SELECT * FROM (VALUES ('site2.example.com'), ('mirror3.org'),
                                 ('tracker.test')) t(dom)),
f AS (
  SELECT u.n,
         CASE WHEN EXISTS (SELECT 1 FROM b WHERE u.domain = b.dom
                              OR u.domain LIKE '%.' || b.dom)
              THEN 1 ELSE 0 END AS blk
  FROM u
),
agg AS (SELECT n, COUNT(*) AS n_urls, SUM(blk) AS n_blocked
        FROM f GROUP BY n)
SELECT 'doc-' || CAST(m.n AS VARCHAR) AS id,
       CAST(COALESCE(agg.n_urls, 0) AS BIGINT) AS n_urls,
       CAST(COALESCE(agg.n_blocked, 0) AS BIGINT) AS n_blocked,
       CAST(CASE WHEN COALESCE(agg.n_blocked, 0) = 0 THEN 1 ELSE 0 END
            AS INTEGER) AS keep
FROM m LEFT JOIN agg ON m.n = agg.n
"""

# Anchor-text corpus extraction (the web-pipeline stage that feeds
# retrieval/anchor-text datasets): every <a> tag in tag order with
# href, anchor text and registrable host (absolute http(s) only —
# relative hrefs keep a NULL domain).
HTML_ANCHOR_EXTRACT = """
WITH d AS (SELECT doc_id AS n FROM documents),
t AS (
  SELECT n, 0 AS pos,
         'https://site' || (n % 7) || '.example.com/p/' || n AS href,
         'read more ' || n AS anchor
  FROM d
  UNION ALL
  SELECT n, 1, '/rel/' || n, 'local' FROM d
  UNION ALL
  SELECT n, 2, 'https://www.mirror' || (n % 3) || '.org', 'mirror ' || n
  FROM d
)
SELECT 'doc-' || CAST(n AS VARCHAR) AS id,
       CAST(pos AS BIGINT) AS pos, href, anchor,
       CASE WHEN href LIKE 'https://%' THEN
         CASE WHEN pos = 0 THEN 'site' || (n % 7) || '.example.com'
              ELSE 'www.mirror' || (n % 3) || '.org' END
       END AS domain,
       CAST(CASE WHEN pos = 1 THEN 1 ELSE 0 END AS INTEGER) AS nofollow
FROM t
"""


MMR_POOL = 10
MMR_K = 5


def _mmr_sql() -> str:
    """Greedy MMR as a recursive CTE: the working table carries one row
    per query (last pick + picked-list); each iteration re-scores the
    remaining pool members 0.7*rel - 0.3*max(sim to picked) and keeps
    the per-query argmax (id-asc ties) until K picks."""
    ids = ", ".join(str(i) for i in ANN_QUERY_IDS)
    return f"""
WITH RECURSIVE
{_EMB_CTE.strip()},
q AS (SELECT id AS query_id, v AS qv FROM e WHERE id IN ({ids})),
s AS (
  SELECT query_id, id, v,
         list_dot_product(qv, v) / (sqrt(list_dot_product(qv, qv))
           * sqrt(list_dot_product(v, v))) AS rel
  FROM q, e WHERE id <> query_id
),
pool AS (
  SELECT query_id, id, v, rel FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY rel DESC, id) AS rn FROM s)
  WHERE rn <= {MMR_POOL}
),
pair AS (
  SELECT a.query_id, a.id AS ia, b.id AS ib,
         list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v))
           * sqrt(list_dot_product(b.v, b.v))) AS sim
  FROM pool a JOIN pool b
    ON a.query_id = b.query_id AND a.id <> b.id
),
sel(query_id, step, id, picked) AS (
  SELECT query_id, 1, id, [id] FROM (
    SELECT query_id, id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY 0.7 * rel DESC, id) AS rn
    FROM pool) WHERE rn = 1
  UNION ALL
  SELECT query_id, step + 1, nid, list_append(picked, nid) FROM (
    SELECT s.query_id, s.step, s.picked, p.id AS nid,
           ROW_NUMBER() OVER (PARTITION BY s.query_id ORDER BY
             0.7 * p.rel - 0.3 * (
               SELECT MAX(pr.sim) FROM pair pr
               WHERE pr.query_id = s.query_id AND pr.ia = p.id
                 AND list_contains(s.picked, pr.ib)) DESC,
             p.id) AS rn
    FROM sel s JOIN pool p ON p.query_id = s.query_id
    WHERE NOT list_contains(s.picked, p.id) AND s.step < {MMR_K}
  ) WHERE rn = 1
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(step AS BIGINT) AS mmr_rank,
       CAST(id AS BIGINT) AS doc_id
FROM sel
"""


RETRIEVAL_MMR = _mmr_sql()


TOKEN_BUDGET = 12_000

# Quality-ranked greedy selection under a token budget: global order =
# quality DESC, id ASC; keep docs whose cumulative token count BEFORE
# them is under the budget (the boundary-crossing doc is taken).
TOKEN_BUDGET_SELECT = f"""
WITH tq AS ({TEXT_QUALITY}),
o AS (
  SELECT id, quality, n_words AS n_tokens,
         COALESCE(SUM(n_words) OVER (
           ORDER BY 3 - quality, id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before,
         ROW_NUMBER() OVER (ORDER BY 3 - quality, id) AS sel_rank
  FROM tq
)
SELECT id, CAST(quality AS BIGINT) AS quality,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(cum_before AS BIGINT) AS cum_before,
       CAST(sel_rank AS BIGINT) AS sel_rank
FROM o WHERE cum_before < {TOKEN_BUDGET}
"""


# Fill-in-the-middle PSM rewrite: id-hash subset (first md5 byte <
# 128), token cuts at floor(n/3) / floor(2n/3); short or unselected
# docs pass through verbatim.
FIM_TRANSFORM = """
WITH d AS (
  SELECT doc_id AS id, text, string_split(text, ' ') AS w,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::BIGINT
           AS bucket
  FROM documents
),
c AS (
  SELECT id, text, w, bucket,
         CAST(len(w) AS BIGINT) AS n,
         CAST(FLOOR(len(w) / 3) AS BIGINT) AS c1,
         CAST(FLOOR(len(w) * 2 / 3) AS BIGINT) AS c2
  FROM d
)
SELECT id,
       CAST(CASE WHEN bucket < 128 AND n >= 3 THEN 1 ELSE 0 END
            AS INTEGER) AS fim,
       n AS n_tokens,
       CASE WHEN bucket < 128 AND n >= 3 THEN
         '<|fim_pre|> ' || array_to_string(w[1:c1], ' ')
         || ' <|fim_suf|> ' || array_to_string(w[c2+1:n], ' ')
         || ' <|fim_mid|> ' || array_to_string(w[c1+1:c2], ' ')
       ELSE text END AS out_text
FROM c
"""


KMEANS_K = 4
KMEANS_ITERS = 3
KMEANS_DIM = 64


def _kmeans_sql() -> str:
    """Unrolled Lloyd iterations in micro fixed-point: every distance
    is a sum of integer products (< 2^53 -> exact in float64 in any
    order) and every centroid update floor(int sum / count), so the
    iterative algorithm is bit-identical to the Spark operator."""
    k, iters, dim = KMEANS_K, KMEANS_ITERS, KMEANS_DIM

    def assign(cte_c: str, name: str) -> str:
        return f"""
{name} AS (
  SELECT id, vm, cluster FROM (
    SELECT e.id, e.vm, c.cluster,
           ROW_NUMBER() OVER (PARTITION BY e.id ORDER BY
             list_dot_product(CAST(e.vm AS DOUBLE[]), CAST(e.vm AS DOUBLE[]))
             - 2 * list_dot_product(CAST(e.vm AS DOUBLE[]),
                                    CAST(c.cm AS DOUBLE[]))
             + list_dot_product(CAST(c.cm AS DOUBLE[]),
                                CAST(c.cm AS DOUBLE[])),
             c.cluster) AS rn
    FROM ve e, {cte_c} c) WHERE rn = 1)"""

    def update(cte_a: str, cte_prev: str, name: str) -> str:
        return f"""
{name} AS (
  SELECT p.cluster, COALESCE(l.cm, p.cm) AS cm
  FROM {cte_prev} p LEFT JOIN (
    SELECT cluster, list(CAST(c AS BIGINT) ORDER BY dim) AS cm FROM (
      SELECT cluster, dim,
             FLOOR(CAST(SUM(val) AS DOUBLE) / COUNT(*)) AS c
      FROM (SELECT cluster, unnest(vm) AS val,
                   unnest(range(1, {dim + 1})) AS dim FROM {cte_a})
      GROUP BY cluster, dim) GROUP BY cluster) l USING (cluster))"""

    parts = [f"""
ve AS (SELECT vec_id AS id,
              list_transform(CAST(embedding AS DOUBLE[]),
                             x -> CAST(FLOOR(x * 1000000.0) AS BIGINT)) AS vm
       FROM embeddings),
c0 AS (SELECT id AS cluster, vm AS cm FROM ve WHERE id < {k})"""]
    for i in range(iters):
        parts.append(assign(f"c{i}", f"a{i}"))
        parts.append(update(f"a{i}", f"c{i}", f"c{i + 1}"))
    parts.append(assign(f"c{iters}", "af"))
    return "WITH " + ",".join(parts) + f"""
SELECT af.id AS vec_id, CAST(af.cluster AS BIGINT) AS cluster,
       CAST(list_dot_product(CAST(af.vm AS DOUBLE[]), CAST(af.vm AS DOUBLE[]))
            - 2 * list_dot_product(CAST(af.vm AS DOUBLE[]),
                                   CAST(c.cm AS DOUBLE[]))
            + list_dot_product(CAST(c.cm AS DOUBLE[]), CAST(c.cm AS DOUBLE[]))
            AS BIGINT) AS dist_sq
FROM af JOIN c{iters} c ON af.cluster = c.cluster
"""


EMB_KMEANS = _kmeans_sql()


# Consecutive-duplicate-line collapse over a derived multi-line corpus:
# 6-word lines, every third line doubled, plus a doubled footer pair;
# the collapse keeps a line only when it differs from the one above.
TEXT_COLLAPSE_LINES = """
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
built AS (
  SELECT doc_id,
         flatten(list_transform(
           range(0, CAST(ceil(len(w) / 6.0) AS BIGINT)),
           i -> CASE WHEN i % 3 = 0
                THEN [array_to_string(w[CAST(i*6+1 AS BIGINT):CAST(i*6+6 AS BIGINT)], ' '),
                      array_to_string(w[CAST(i*6+1 AS BIGINT):CAST(i*6+6 AS BIGINT)], ' ')]
                ELSE [array_to_string(w[CAST(i*6+1 AS BIGINT):CAST(i*6+6 AS BIGINT)], ' ')]
                END))
         || ['== footer ==', '== footer =='] AS ls
  FROM d
),
x AS (
  SELECT doc_id, unnest(ls) AS line,
         unnest(range(1, len(ls) + 1)) AS pos
  FROM built
),
m AS (
  SELECT doc_id, pos, line,
         CASE WHEN pos = 1 OR line IS DISTINCT FROM
                   lag(line) OVER (PARTITION BY doc_id ORDER BY pos)
              THEN 1 ELSE 0 END AS keep
  FROM x
)
SELECT doc_id AS id,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(keep) AS BIGINT) AS n_kept,
       COALESCE(string_agg(line, chr(10) ORDER BY pos)
                  FILTER (WHERE keep = 1), '') AS out_text
FROM m GROUP BY doc_id
"""

KMEANS_SAMPLE_CAP = 64

# Cluster-balanced downsampling: at most CAP members per k-means
# cluster, ranked by the deterministic id hash (reproducible at any
# cluster size) — the topic-balancing stage over emb_kmeans.
KMEANS_BALANCED_SAMPLE = f"""
WITH km AS ({EMB_KMEANS})
SELECT vec_id, cluster, CAST(rnk AS BIGINT) AS rnk FROM (
  SELECT vec_id, cluster,
         ROW_NUMBER() OVER (PARTITION BY cluster
                            ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                     vec_id) AS rnk
  FROM km)
WHERE rnk <= {KMEANS_SAMPLE_CAP}
"""


# Interleaved image-text training records (the OBELICS-style
# serialization of multimodal corpora): per document, text spans and
# <|image:media_ref|> sentinels concatenate in global reading order
# (page, then in-page sequence; media anchors at its page's start).
INTERLEAVE_RECORDS = """
WITH r AS (
  SELECT doc_id, repeat(text || ' ', 15) || text AS text FROM documents
), d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         string_split(text, ' ') AS w,
         CAST(ceil(len(string_split(text, ' ')) / 8.0) AS BIGINT) AS nl,
         sha256(text) AS h
  FROM r
), l AS (
  SELECT did, w, nl, unnest(range(0, nl)) AS i FROM d
), t AS (
  SELECT did AS doc_id,
         i // 40 + 1 AS page,
         CAST(i % 40
              + CASE WHEN (i // 40 + 1) % 3 = 0 AND nl >= (i // 40 + 1) * 40
                     THEN 1 ELSE 0 END AS BIGINT) AS seq,
         array_to_string(w[CAST(i*8+1 AS BIGINT):CAST(i*8+8 AS BIGINT)], ' ')
           AS part,
         1 AS is_text
  FROM l
), m AS (
  SELECT did AS doc_id, p AS page, CAST(0 AS BIGINT) AS seq,
         '<|image:media-' || substr(sha256(h || ':' || CAST(p AS VARCHAR)), 1, 8)
           || '|>' AS part,
         0 AS is_text
  FROM d, unnest(range(3, nl // 40 + 1, 3)) AS u(p)
), parts AS (
  SELECT * FROM t UNION ALL SELECT * FROM m
)
SELECT doc_id,
       CAST(SUM(is_text) AS BIGINT) AS n_text,
       CAST(SUM(1 - is_text) AS BIGINT) AS n_media,
       CAST(length(string_agg(part, ' ' ORDER BY page, seq)) AS BIGINT)
         AS n_chars,
       md5(string_agg(part, ' ' ORDER BY page, seq)) AS record_md5
FROM parts GROUP BY doc_id
"""


# Parallelism-parity: extraction at two different partitionings,
# span_diff'd — every document must be bit-identical, so the expected
# table is simply "all docs equal with both sides at the span-count
# totals" (the north rule's cross-cluster-size reproducibility claim
# as an oracle-checked gate).
EXTRACT_PARALLELISM_PARITY = f"""
WITH sc AS ({EXTRACT_SPAN_COUNTS})
SELECT doc_id,
       CAST(SUM(n_spans) AS BIGINT) AS n_a,
       CAST(SUM(n_spans) AS BIGINT) AS n_b,
       CAST(0 AS BIGINT) AS n_mismatch,
       CAST(1 AS INTEGER) AS equal,
       CAST(-1 AS BIGINT) AS first_diverge
FROM sc GROUP BY doc_id
"""


# Dehyphenation + line unwrap over a derived hard-wrapped corpus:
# inter-word separators cycle deterministically (every 11th boundary a
# hyphenated break, every 5th a plain break, else space); the repair
# rejoins '-\n' iff the continuation starts lowercase, then unwraps.
TEXT_DEHYPHENATE = r"""
WITH d AS (SELECT doc_id AS id, string_split(text, ' ') AS w
           FROM documents),
b AS (
  SELECT id,
         array_to_string(list_transform(range(1, len(w)),
           i -> w[i] || CASE WHEN (i - 1) % 11 = 3 THEN '-' || chr(10)
                             WHEN (i - 1) % 5 = 2 THEN chr(10)
                             ELSE ' ' END), '') || w[len(w)] AS t
  FROM d
),
r AS (
  SELECT id, t,
         CAST(len(regexp_extract_all(t, '-' || chr(10) || '[a-z]'))
              AS BIGINT) AS n_joined,
         CAST(len(string_split(t, chr(10))) - 1 AS BIGINT) AS n_wrapped,
         regexp_replace(
           regexp_replace(t, '-' || chr(10) || '([a-z])', '\1', 'g'),
           '-' || chr(10), '-', 'g') AS fixed
  FROM b
)
SELECT id, n_joined, n_wrapped,
       regexp_replace(fixed, chr(10), ' ', 'g') AS out_text
FROM r
"""

# Banding-loss report: LSH survivors are verified with the exact
# threshold, so precision is an invariant 1000 and recall measures
# the banding loss.
DEDUP_MINHASH_REPORT = f"""
WITH ex AS ({DEDUP_NGRAM_JACCARD}),
lsh AS ({DEDUP_MINHASH_LSH}),
c AS (
  SELECT (SELECT COUNT(*) FROM ex) AS n_exact,
         (SELECT COUNT(*) FROM lsh) AS n_lsh,
         (SELECT COUNT(*) FROM ex JOIN lsh USING (id_a, id_b))
           AS n_true_pos
)
SELECT CAST(n_exact AS BIGINT) AS n_exact,
       CAST(n_lsh AS BIGINT) AS n_lsh,
       CAST(n_true_pos AS BIGINT) AS n_true_pos,
       CAST(CASE WHEN n_lsh > 0 THEN (n_true_pos * 1000) // n_lsh
                 ELSE 1000 END AS BIGINT) AS precision_x1000,
       CAST(CASE WHEN n_exact > 0 THEN (n_true_pos * 1000) // n_exact
                 ELSE 1000 END AS BIGINT) AS recall_x1000
FROM c
"""


# Caption mining over the 16x-repeated corpus: media anchors at the
# START of every full 3rd page, so its preceding text span is exactly
# the LAST chunk of the page before (index (p-1)*40 - 1) — closed form
# because media pages require both pages full.
MEDIA_CAPTION_PAIRS = """
WITH r AS (
  SELECT doc_id, repeat(text || ' ', 15) || text AS text FROM documents
), d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         string_split(text, ' ') AS w,
         CAST(ceil(len(string_split(text, ' ')) / 8.0) AS BIGINT) AS nl,
         sha256(text) AS h
  FROM r
)
SELECT did AS doc_id,
       'media-' || substr(sha256(h || ':' || CAST(p AS VARCHAR)), 1, 8)
         AS media_ref,
       array_to_string(
         w[CAST(((p-1)*40 - 1)*8 + 1 AS BIGINT)
           :CAST(((p-1)*40 - 1)*8 + 8 AS BIGINT)], ' ') AS caption
FROM d, unnest(range(3, nl // 40 + 1, 3)) AS u(p)
"""

# Near-dup cluster-size histogram — the dedup observability table
# (how much mass sits in how-big clusters) over the MinHash components.
DEDUP_CLUSTER_SIZES = f"""
WITH comp AS ({DEDUP_COMPONENTS}),
s AS (SELECT component, COUNT(*) AS sz FROM comp GROUP BY component)
SELECT CAST(sz AS BIGINT) AS cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(sz * COUNT(*) AS BIGINT) AS n_docs
FROM s GROUP BY sz
"""


IMG_MIN_SIDE = 16
IMG_MAX_ASPECT = 3

# LAION-style size/aspect filter over the decoded dims (which the
# decode oracle derives closed-form from sha256(ref)).
IMAGE_SIZE_FILTER = f"""
WITH md AS ({MULTIMODAL_DECODE})
SELECT media_ref, fmt, width, height,
       CAST(CASE WHEN width >= {IMG_MIN_SIDE} AND height >= {IMG_MIN_SIDE}
                 THEN 1 ELSE 0 END AS INTEGER) AS keep_size,
       CAST(CASE WHEN height * {IMG_MAX_ASPECT} >= width
                  AND width * {IMG_MAX_ASPECT} >= height
                 THEN 1 ELSE 0 END AS INTEGER) AS keep_aspect,
       CAST(CASE WHEN width >= {IMG_MIN_SIDE} AND height >= {IMG_MIN_SIDE}
                  AND height * {IMG_MAX_ASPECT} >= width
                  AND width * {IMG_MAX_ASPECT} >= height
                 THEN 1 ELSE 0 END AS INTEGER) AS keep
FROM md
"""


# Near-dup batch admission: batch = doc_id % 4 = 0 vs the accepted
# rest; reject on any accepted match or any earlier-batch match.
DEDUP_INCREMENTAL_MINHASH = f"""
WITH p AS ({DEDUP_MINHASH_LSH}),
ed AS (SELECT id_a AS id, id_b AS partner FROM p
       UNION ALL SELECT id_b, id_a FROM p),
b AS (SELECT doc_id AS id FROM documents WHERE doc_id % 4 = 0),
ag AS (
  SELECT ed.id,
         SUM(CASE WHEN partner % 4 <> 0 THEN 1 ELSE 0 END) AS me,
         SUM(CASE WHEN partner % 4 = 0 AND partner < ed.id
                  THEN 1 ELSE 0 END) AS mp
  FROM ed JOIN b ON ed.id = b.id GROUP BY ed.id
)
SELECT b.id,
       CAST(COALESCE(me, 0) AS BIGINT) AS n_match_existing,
       CAST(COALESCE(mp, 0) AS BIGINT) AS n_match_prior,
       CAST(CASE WHEN COALESCE(me, 0) + COALESCE(mp, 0) = 0
                 THEN 1 ELSE 0 END AS INTEGER) AS keep
FROM b LEFT JOIN ag ON b.id = ag.id
"""


PAGERANK_ITERS = 3
PAGERANK_DAMPING = 850
PAGERANK_MASS = 1_000_000


def _pagerank_sql() -> str:
    """Unrolled fixed-point PageRank over the anchor-derived domain
    graph (site(n%7) -> mirror(n%3) -> site((n+2)%7)): all arithmetic
    integer (floor divisions), bit-identical to operators/graph.py."""
    d, iters, mass = PAGERANK_DAMPING, PAGERANK_ITERS, PAGERANK_MASS
    parts = [f"""
raw AS (
  SELECT 'site' || (doc_id % 7) || '.example.com' AS src,
         'www.mirror' || (doc_id % 3) || '.org' AS dst
  FROM documents
  UNION ALL
  SELECT 'www.mirror' || (doc_id % 3) || '.org',
         'site' || ((doc_id + 2) % 7) || '.example.com'
  FROM documents
),
e AS (SELECT DISTINCT src, dst FROM raw),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
deg AS (SELECT src, COUNT(*) AS out_deg FROM e GROUP BY src),
consts AS (SELECT {mass} // COUNT(*) AS base,
                  (1000 - {d}) * ({mass} // COUNT(*)) // 1000 AS tp
           FROM nodes),
r0 AS (SELECT node, (SELECT base FROM consts) AS rank_micro FROM nodes)"""]
    for i in range(iters):
        parts.append(f"""
c{i} AS (
  SELECT e.dst AS node, SUM(r.rank_micro // deg.out_deg) AS in_mass
  FROM e JOIN r{i} r ON e.src = r.node JOIN deg ON e.src = deg.src
  GROUP BY e.dst
),
r{i + 1} AS (
  SELECT n.node,
         (SELECT tp FROM consts)
           + {d} * COALESCE(c.in_mass, 0) // 1000 AS rank_micro
  FROM nodes n LEFT JOIN c{i} c ON n.node = c.node
)""")
    return "WITH " + ",".join(parts) + f"""
SELECT n.node, CAST(r.rank_micro AS BIGINT) AS rank_micro,
       CAST(COALESCE(deg.out_deg, 0) AS BIGINT) AS out_deg
FROM nodes n JOIN r{iters} r ON n.node = r.node
LEFT JOIN deg ON n.node = deg.src
"""


WEB_PAGERANK = _pagerank_sql()


# Quality-decile stratification: global rank (quality DESC, id ASC)
# -> decile = (rank-1)*10 // corpus size; deciles are contiguous
# quality strata for curriculum schedules and stratified eval draws.
QUALITY_DECILE_SPLIT = f"""
WITH tq AS ({TEXT_QUALITY}),
o AS (
  SELECT id, quality, n_words AS n_tokens,
         ROW_NUMBER() OVER (ORDER BY 3 - quality, id) AS sel_rank,
         COUNT(*) OVER () AS total
  FROM tq
)
SELECT id, CAST(quality AS BIGINT) AS quality,
       CAST(sel_rank AS BIGINT) AS sel_rank,
       CAST((sel_rank - 1) * 10 // total AS BIGINT) AS decile
FROM o
"""


# Domain-level quality priors (the RefinedWeb-style aggregation that
# seeds crawl/filter priors): per first-URL domain — doc count, mean
# quality bucket x1000 and mean token count x1000, integer-exact.
DOMAIN_QUALITY_PRIORS = f"""
WITH tq AS ({TEXT_QUALITY}),
d AS (
  SELECT id, quality, n_words,
         'site' || (id % 7) || '.example.com' AS domain
  FROM tq
)
SELECT domain,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(quality) * 1000 // COUNT(*) AS BIGINT)
         AS avg_quality_x1000,
       CAST(SUM(n_words) * 1000 // COUNT(*) AS BIGINT)
         AS avg_tokens_x1000
FROM d GROUP BY domain
"""


# Normalized exact dedup over a corpus where every doc gains a
# reformatted twin (uppercased + punctuation noise + extra spaces):
# the normalized key must pair each original with its twin while plain
# md5(text) would see them as distinct.
DEDUP_NORMALIZED_EXACT = """
WITH twin AS (
  SELECT doc_id * 2 AS id, text FROM documents
  UNION ALL
  SELECT doc_id * 2 + 1,
         '  ' || upper(text) || ' !! ' FROM documents
),
k AS (
  SELECT id,
         md5(trim(regexp_replace(regexp_replace(lower(text),
              '[^a-z0-9]+', ' ', 'g'), ' +', ' ', 'g'))) AS key
  FROM twin
)
SELECT id,
       CAST(MIN(id) OVER (PARTITION BY key) AS BIGINT) AS canonical_id,
       CAST(COUNT(*) OVER (PARTITION BY key) AS BIGINT) AS group_size,
       CAST(CASE WHEN id <> MIN(id) OVER (PARTITION BY key)
                 THEN 1 ELSE 0 END AS INTEGER) AS is_dup,
       key AS norm_key_md5
FROM k
"""


HITS_ITERS = 3


def _hits_sql() -> str:
    """Unrolled max-normalized HITS over the same anchor-derived
    domain graph as WEB_PAGERANK — integer floor arithmetic throughout,
    the max guards matching the operator's `or 1` exactly."""
    mass, iters = PAGERANK_MASS, HITS_ITERS
    mx = ("(SELECT CASE WHEN COALESCE(MAX({c}), 0) = 0 THEN 1 "
          "ELSE MAX({c}) END FROM {t})")
    parts = [f"""
raw AS (
  SELECT 'site' || (doc_id % 7) || '.example.com' AS src,
         'www.mirror' || (doc_id % 3) || '.org' AS dst
  FROM documents
  UNION ALL
  SELECT 'www.mirror' || (doc_id % 3) || '.org',
         'site' || ((doc_id + 2) % 7) || '.example.com'
  FROM documents
),
e AS (SELECT DISTINCT src, dst FROM raw),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
h0 AS (SELECT node, CAST({mass} AS BIGINT) AS h FROM nodes)"""]
    for i in range(iters):
        parts.append(f"""
ar{i} AS (SELECT e.dst AS node, SUM(h.h) AS ar
          FROM e JOIN h{i} h ON e.src = h.node GROUP BY e.dst),
a{i} AS (SELECT n.node,
                COALESCE(ar, 0) * {mass}
                  // {mx.format(c='ar', t=f'ar{i}')} AS a
         FROM nodes n LEFT JOIN ar{i} USING (node)),
hr{i} AS (SELECT e.src AS node, SUM(a.a) AS hr
          FROM e JOIN a{i} a ON e.dst = a.node GROUP BY e.src),
h{i + 1} AS (SELECT n.node,
                    COALESCE(hr, 0) * {mass}
                      // {mx.format(c='hr', t=f'hr{i}')} AS h
             FROM nodes n LEFT JOIN hr{i} USING (node))""")
    return "WITH " + ",".join(parts) + f"""
SELECT h.node, CAST(h.h AS BIGINT) AS hub_x,
       CAST(a.a AS BIGINT) AS auth_x
FROM h{iters} h JOIN a{iters - 1} a ON h.node = a.node
"""


WEB_HITS = _hits_sql()


# Ordered funnel view -> click -> purchase: step k counts only
# strictly after the user's step-(k-1) earliest qualifying time.
EVENTS_FUNNEL = """
WITH ev AS (SELECT * FROM events WHERE event_id % 37 = 0),
u AS (SELECT DISTINCT user_id FROM ev),
t1 AS (SELECT user_id, MIN(ts) AS t FROM ev
       WHERE event_type = 'view' GROUP BY user_id),
t2 AS (SELECT e.user_id, MIN(e.ts) AS t
       FROM ev e JOIN t1 ON e.user_id = t1.user_id AND e.ts > t1.t
       WHERE e.event_type = 'click' GROUP BY e.user_id),
t3 AS (SELECT e.user_id, MIN(e.ts) AS t
       FROM ev e JOIN t2 ON e.user_id = t2.user_id AND e.ts > t2.t
       WHERE e.event_type = 'purchase' GROUP BY e.user_id)
SELECT u.user_id,
       CAST((CASE WHEN t1.user_id IS NULL THEN 0 ELSE 1 END)
          + (CASE WHEN t2.user_id IS NULL THEN 0 ELSE 1 END)
          + (CASE WHEN t3.user_id IS NULL THEN 0 ELSE 1 END)
          AS BIGINT) AS reached
FROM u LEFT JOIN t1 ON u.user_id = t1.user_id
       LEFT JOIN t2 ON u.user_id = t2.user_id
       LEFT JOIN t3 ON u.user_id = t3.user_id
"""

# Weekly cohort retention: cohort = epoch-week of first event;
# cells count distinct members active at each week offset.
EVENTS_COHORT = """
WITH ev AS (SELECT * FROM events WHERE event_id % 23 = 0),
a AS (
  SELECT DISTINCT user_id,
         CAST(FLOOR(epoch(ts) / 604800) AS BIGINT) AS wk
  FROM ev
),
f AS (SELECT user_id, MIN(wk) AS cohort_week FROM a GROUP BY user_id)
SELECT f.cohort_week,
       CAST(a.wk - f.cohort_week AS BIGINT) AS week_offset,
       CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
FROM a JOIN f ON a.user_id = f.user_id
GROUP BY f.cohort_week, a.wk - f.cohort_week
"""

EVENTS_DAU_MAU = """
WITH a AS (
  SELECT DISTINCT user_id,
         CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day
  FROM events
),
days AS (SELECT DISTINCT day FROM a),
mau AS (
  SELECT d.day, CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS mau
  FROM days d JOIN a ON a.day BETWEEN d.day - 27 AND d.day
  GROUP BY d.day
),
dau AS (
  SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
  FROM a GROUP BY day
)
SELECT dau.day, dau.dau, mau.mau,
       CAST((dau.dau * 1000) // mau.mau AS BIGINT) AS stickiness_pm
FROM dau JOIN mau ON mau.day = dau.day
"""

TEXT_READABILITY = r"""
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS id,
         text || '.' || CASE CAST(doc_id AS BIGINT) % 3
           WHEN 1 THEN ' Short tail! Ok?'
           WHEN 2 THEN ' One more sentence here.'
           ELSE '' END AS t2
  FROM documents
),
m AS (
  SELECT id,
         CAST(len(string_split_regex(trim(t2), '\s+')) AS BIGINT)
           AS n_words,
         CAST(len(regexp_extract_all(t2, '[.!?]+')) AS BIGINT)
           AS n_sentences,
         CAST(len(regexp_extract_all(lower(t2), '[aeiouy]+'))
           AS BIGINT) AS n_syllables
  FROM d
)
SELECT id, n_words, n_sentences, n_syllables,
       CAST(206835
            - (1015 * n_words) // GREATEST(1, n_sentences)
            - (84600 * n_syllables) // GREATEST(1, n_words)
            AS BIGINT) AS fre_milli
FROM m
"""

CHAT_FORMAT = r"""
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS id,
         string_split_regex(trim(text), '\s+') AS w
  FROM documents
),
r AS (
  SELECT id,
         '<|system|>You are a helpful assistant.<|end|>' || chr(10)
           || '<|user|>' || array_to_string(w[1:8], ' ')
           || '<|end|>' || chr(10) || '<|assistant|>' AS prefix,
         array_to_string(w[9:len(w)], ' ') AS a
  FROM d
)
SELECT id, prefix || a || '<|end|>' AS rendered,
       CAST(length(prefix) AS BIGINT) AS loss_start,
       CAST(length(prefix) + length(a) AS BIGINT) AS loss_end,
       CAST(length(a) AS BIGINT) AS n_loss_chars
FROM r
"""

HTML_META_ROBOTS = """
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS id,
         CAST(doc_id AS BIGINT) % 4 AS m
  FROM documents
)
SELECT id,
       CASE m WHEN 1 THEN 'noindex, follow' WHEN 2 THEN 'nofollow'
              WHEN 3 THEN 'none' ELSE '' END AS directives,
       CAST(CASE WHEN m IN (1, 3) THEN 1 ELSE 0 END AS INTEGER)
         AS noindex,
       CAST(CASE WHEN m IN (2, 3) THEN 1 ELSE 0 END AS INTEGER)
         AS nofollow,
       CAST(CASE WHEN m IN (1, 3) THEN 0 ELSE 1 END AS INTEGER) AS keep
FROM d
"""

SECTION_CHUNKS = r"""
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS id,
         CAST(doc_id AS BIGINT) % 3 AS m, text,
         string_split_regex(trim(text), '\s+') AS w
  FROM documents
),
big AS (SELECT * FROM d WHERE len(w) >= 18),
small AS (SELECT * FROM d WHERE len(w) < 18)
SELECT id,
       CAST(CASE WHEN m = 0 THEN s.i + 1 ELSE s.i END AS BIGINT)
         AS section_idx,
       s.b AS breadcrumb, CAST(1 AS BIGINT) AS n_lines,
       CASE s.i WHEN 0 THEN array_to_string(w[1:6], ' ')
                WHEN 1 THEN array_to_string(w[7:12], ' ')
                ELSE array_to_string(w[13:len(w)], ' ') END AS chunk_text
FROM big, (VALUES (0, 'Intro'), (1, 'Intro > Detail'), (2, 'End'))
     AS s(i, b)
UNION ALL
SELECT id, CAST(0 AS BIGINT), '', CAST(1 AS BIGINT), 'preamble line'
FROM big WHERE m = 0
UNION ALL
SELECT id, CAST(0 AS BIGINT), '', CAST(1 AS BIGINT), text
FROM small WHERE trim(text) <> ''
"""

EVENTS_ASOF = """
WITH p AS (
  SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS us
  FROM events WHERE event_type = 'purchase'
),
v AS (
  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS us
  FROM events WHERE event_type = 'view'
)
SELECT p.event_id, p.user_id, p.us,
       (SELECT MAX(v.us) FROM v
        WHERE v.user_id = p.user_id AND v.us <= p.us) AS right_us,
       p.us - (SELECT MAX(v.us) FROM v
               WHERE v.user_id = p.user_id AND v.us <= p.us) AS gap_us
FROM p
"""

PNG_TEXT_META = """
WITH d AS (
  SELECT DISTINCT 'media-' || substr(sha256(text), 1, 8) AS media_ref
  FROM documents
)
SELECT media_ref, CAST(0 AS INTEGER) AS pos, 'Title' AS key,
       'title ' || media_ref AS value
FROM d
UNION ALL
SELECT media_ref, CAST(1 AS INTEGER), 'Author',
       'author ' || substr(media_ref, length(media_ref) - 3, 4)
FROM d
"""

EVENTS_RANGE_JOIN = f"""
WITH e AS (
  SELECT CAST(epoch_us(ts) AS BIGINT) AS us, {micro('value')} AS vm
  FROM events
),
t0 AS (SELECT MIN(us) AS t0 FROM e),
win AS (
  SELECT CAST(r.i AS BIGINT) AS window_idx,
         t0.t0 + r.i * CAST(25200000000 AS BIGINT) AS start_us
  FROM range(24) r(i), t0
)
SELECT w.window_idx, w.start_us,
       CAST(COUNT(e.us) AS BIGINT) AS n_events,
       CAST(COALESCE(SUM(e.vm), 0) AS BIGINT) AS sum_value_micro
FROM win w LEFT JOIN e
  ON e.us >= w.start_us
 AND e.us < w.start_us + CAST(5400000000 AS BIGINT)
GROUP BY w.window_idx, w.start_us
"""

EVENTS_PIVOT = """
WITH a AS (
  SELECT CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day, event_type
  FROM events
)
SELECT day,
       CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT)
         AS n_click,
       CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT)
         AS n_error,
       CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
         AS n_purchase,
       CAST(COUNT(*) FILTER (WHERE event_type = 'signup') AS BIGINT)
         AS n_signup,
       CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT)
         AS n_view
FROM a GROUP BY day
"""

EVENTS_ROLLING = f"""
WITH daily AS (
  SELECT user_id, CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day,
         CAST(SUM({micro('value')}) AS BIGINT) AS day_value_micro
  FROM events GROUP BY user_id, CAST(FLOOR(epoch(ts) / 86400) AS BIGINT)
)
SELECT user_id, day, day_value_micro,
       CAST(SUM(day_value_micro) OVER (
         PARTITION BY user_id ORDER BY day
         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
         AS rolling_value_micro
FROM daily
"""

AUDIO_ENERGY = f"""
WITH d AS (
  SELECT DISTINCT 'media-' || substr(sha256(text), 1, 8) AS media_ref
  FROM documents
), p AS (
  SELECT media_ref,
         (1 + {_hexb(3)} % 2) * (256 * (1 + {_hexb(7)} % 8)) AS n,
         1000 + 100 * ({_hexb(9)} % 10) AS amp
  FROM (SELECT media_ref, sha256(media_ref) AS h FROM d)
)
SELECT media_ref,
       CAST(n AS BIGINT) AS n_samples,
       CAST(amp + 15 AS BIGINT) AS peak,
       CAST(n * amp * amp + 15 * n * amp + (n // 16) * 1240 AS BIGINT)
         AS energy
FROM p
"""

CORPUS_SNAPSHOT_DIFF = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CASE CAST(doc_id AS BIGINT) % 10
         WHEN 3 THEN 'changed' WHEN 7 THEN 'removed'
         ELSE 'unchanged' END AS status
FROM documents
UNION ALL
SELECT CAST(doc_id + 1000000 AS BIGINT), 'added'
FROM documents WHERE CAST(doc_id AS BIGINT) % 10 = 9
"""

# the warcinfo leader's byte size is a layout constant shared with the
# builder (same pattern as the LSH planes); every response record's
# size/offset is re-derived arithmetically from the WARC/1.1 framing:
# record = 221 fixed header bytes + len(url) + digits(C) + C, where
# C = 77 HTTP envelope bytes + digits(H) + H and H = payload bytes
def _warc_ingest_sql() -> str:
    from ..kernel.warc import warcinfo_record
    wi = len(warcinfo_record())
    return f"""
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, text, source,
         '<html><head><title>doc ' || CAST(doc_id AS BIGINT)
           || '</title></head><body><p>' || text
           || '</p></body></html>' AS html,
         'https://' || source || '.example.org/doc/'
           || CAST(doc_id AS BIGINT) AS url
  FROM documents
), sz AS (
  SELECT *, doc_id // 64 AS warc_file, strlen(html) AS h,
         77 + length(CAST(strlen(html) AS VARCHAR)) + strlen(html) AS c
  FROM d
), r AS (
  SELECT *,
         221 + strlen(url) + length(CAST(c AS VARCHAR)) + c AS rec_len
  FROM sz
)
SELECT CAST(warc_file AS BIGINT) AS warc_file,
       CAST({wi} + COALESCE(SUM(rec_len) OVER (
         PARTITION BY warc_file ORDER BY doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         AS BIGINT) AS offset,
       CAST(rec_len AS BIGINT) AS rec_len,
       url AS target_uri,
       '2024-01-01T'
         || lpad(CAST((doc_id % 86400) // 3600 AS VARCHAR), 2, '0')
         || ':'
         || lpad(CAST(((doc_id % 86400) % 3600) // 60 AS VARCHAR),
                 2, '0')
         || ':'
         || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') || 'Z'
         AS warc_date,
       CAST(200 AS INTEGER) AS http_status,
       'text/html; charset=utf-8' AS content_type,
       md5(html) AS payload_md5,
       CAST(h AS BIGINT) AS payload_bytes
FROM r
"""


WARC_INGEST = _warc_ingest_sql()

# EXIF fixture params are pure functions of sha256(media_ref) bytes
# (corpus.media.exif_params_for_ref); the Spark side must recover them
# through the real JPEG-segment + TIFF/IFD walk
IMAGE_EXIF_META = f"""
WITH d AS (
  SELECT DISTINCT 'media-' || substr(sha256(text), 1, 8) AS media_ref
  FROM documents
), hh AS (
  SELECT media_ref, sha256(media_ref) AS h FROM d
)
SELECT media_ref,
       CASE WHEN {_hexb(1)} % 2 = 0 THEN 'II' ELSE 'MM' END AS endian,
       'Make' || CAST({_hexb(3)} % 5 AS VARCHAR) AS make,
       'Model' || CAST({_hexb(5)} % 10 AS VARCHAR) AS model,
       CAST(1 + {_hexb(7)} % 8 AS INTEGER) AS orientation,
       CAST(72 + 24 * ({_hexb(9)} % 4) AS INTEGER) AS xres_num,
       CAST(1 + {_hexb(9)} % 2 AS INTEGER) AS xres_den,
       '2024:0' || CAST(1 + {_hexb(11)} % 9 AS VARCHAR)
         || ':0' || CAST(1 + {_hexb(13)} % 9 AS VARCHAR) || ' '
         || lpad(CAST({_hexb(15)} % 24 AS VARCHAR), 2, '0') || ':'
         || lpad(CAST({_hexb(17)} % 60 AS VARCHAR), 2, '0') || ':'
         || lpad(CAST({_hexb(19)} % 60 AS VARCHAR), 2, '0')
         AS datetime_original,
       CAST(16 + {_hexb(21)} AS INTEGER) AS pixel_x
FROM hh
"""

# deterministic HLL: registers are md5 slices, the rollup sum is
# integer-exact, and the single FLOOR(A / S) divide uses the one
# Python-precomputed numerator both engines share
def _hll_sql() -> str:
    from ..operators.sketch import (
        HLL_LC_TABLE,
        HLL_LC_THRESHOLD,
        HLL_NUMERATOR,
    )
    lc_list = ", ".join(str(int(x)) for x in HLL_LC_TABLE)

    def hexv(col: str, pos: int, n: int) -> str:
        parts = [f"(strpos('0123456789abcdef', substr({col}, {pos + i}, 1))"
                 f" - 1)" for i in range(n)]
        out = parts[0]
        for p in parts[1:]:
            out = f"(({out}) * 16 + {p})"
        return out

    return f"""
WITH h0 AS (
  SELECT event_type AS key, md5(CAST(user_id AS VARCHAR)) AS h
  FROM events
), hb AS (
  SELECT key, {hexv('h', 1, 2)} AS bucket, substr(h, 3, 12) AS w
  FROM h0
), rz AS (
  SELECT key, bucket, length(regexp_extract(w, '^0*')) AS z,
         strpos('0123456789abcdef',
                substr(w, length(regexp_extract(w, '^0*')) + 1, 1)) - 1
           AS v
  FROM hb
), rho AS (
  SELECT key, bucket,
         CASE WHEN z = 12 THEN 49
              ELSE 4 * z + CASE WHEN v >= 8 THEN 0 WHEN v >= 4 THEN 1
                                WHEN v >= 2 THEN 2 ELSE 3 END + 1
         END AS rho
  FROM rz
), regs AS (
  SELECT key, bucket, MAX(rho) AS reg FROM rho GROUP BY 1, 2
), agg AS (
  SELECT key, CAST(COUNT(*) AS BIGINT) AS n_buckets_used,
         CAST(SUM(CAST(1 AS BIGINT) << (50 - reg))
              + (256 - COUNT(*)) * (CAST(1 AS BIGINT) << 50)
              AS BIGINT) AS reg_sum
  FROM regs GROUP BY key
), ex AS (
  SELECT event_type AS key,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
  FROM events GROUP BY 1
), est AS (
  SELECT a.key, a.n_buckets_used, a.reg_sum,
         CASE WHEN (256 - a.n_buckets_used) > 0
                   AND CAST(FLOOR({HLL_NUMERATOR!r}
                       / CAST(a.reg_sum AS DOUBLE)) AS BIGINT)
                       < {HLL_LC_THRESHOLD}
              THEN CAST([{lc_list}][CAST(256 - a.n_buckets_used
                                         AS INTEGER)] AS BIGINT)
              ELSE CAST(FLOOR({HLL_NUMERATOR!r}
                   / CAST(a.reg_sum AS DOUBLE)) AS BIGINT)
         END AS est_distinct,
         ex.exact_distinct
  FROM agg a JOIN ex USING (key)
)
SELECT key, n_buckets_used, reg_sum, est_distinct, exact_distinct,
       CAST(ABS(est_distinct - exact_distinct) * 10000 // exact_distinct
            AS BIGINT) AS err_bp
FROM est
"""


SKETCH_HLL_DISTINCT = _hll_sql()


def _gram8() -> str:
    joined = " || ' ' || ".join(f"w[i+{k}]" for k in range(8))
    return (f"list_distinct(CASE WHEN len(w) >= 8 THEN "
            f"list_transform(range(1, len(w) - 6), i -> {joined}) "
            f"ELSE CAST([] AS VARCHAR[]) END)")


def _bloom_sql() -> str:
    def hexv(pos: int) -> str:
        parts = [f"(strpos('0123456789abcdef', substr(h, {pos + i}, 1))"
                 f" - 1)" for i in range(4)]
        out = parts[0]
        for p in parts[1:]:
            out = f"(({out}) * 16 + {p})"
        return out

    probes = ", ".join(hexv(1 + 4 * i) for i in range(3))
    return f"""
WITH d AS (
  SELECT doc_id AS id, string_split(text, ' ') AS w FROM documents
), sh AS (
  SELECT id, {_gram8()} AS s FROM d
), bg AS (
  SELECT DISTINCT unnest(s) AS g FROM sh WHERE id % 31 = 0
), bgh AS (SELECT g, md5(g) AS h FROM bg),
bits AS (SELECT DISTINCT unnest([{probes}]) AS bit FROM bgh),
cand AS (SELECT id, s FROM sh WHERE id % 31 <> 0),
sizes AS (SELECT id, CAST(len(s) AS BIGINT) AS n_grams FROM cand),
x AS (SELECT id, unnest(s) AS g FROM cand),
xh AS (SELECT id, g, md5(g) AS h FROM x),
xp AS (SELECT id, g, unnest([{probes}]) AS bit FROM xh),
gh AS (
  SELECT id, g FROM xp JOIN bits USING (bit)
  GROUP BY id, g HAVING COUNT(*) = 3
), bl AS (
  SELECT id, CAST(COUNT(*) AS BIGINT) AS n_bloom_hits FROM gh GROUP BY id
), ex AS (SELECT DISTINCT x.id FROM x JOIN bg USING (g))
SELECT s.id AS id, s.n_grams,
       COALESCE(bl.n_bloom_hits, 0) AS n_bloom_hits,
       CAST(CASE WHEN COALESCE(bl.n_bloom_hits, 0) > 0 THEN 1 ELSE 0 END
            AS INTEGER) AS bloom_flag,
       CAST(CASE WHEN ex.id IS NOT NULL THEN 1 ELSE 0 END AS INTEGER)
         AS exact_flag
FROM sizes s LEFT JOIN bl USING (id) LEFT JOIN ex ON s.id = ex.id
"""


BLOOM_DECONTAMINATE = _bloom_sql()


def _zorder_sql() -> str:
    terms = []
    for i in range(8):
        terms.append(f"(((x >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"(((y >> {i}) & 1) << {2 * i})")
    interleave = " + ".join(terms)
    xb = ("((strpos('0123456789abcdef', substr(md5(source), 1, 1)) - 1)"
          " * 16 + strpos('0123456789abcdef', substr(md5(source), 2, 1))"
          " - 1)")
    return f"""
WITH q AS (
  SELECT doc_id AS id, {xb} AS x,
         least(255, CAST(n_chars // 4 AS INTEGER)) AS y
  FROM documents
), z AS (
  SELECT id, x, y, {interleave} AS z FROM q
), f AS (SELECT *, z // 1024 AS file_id FROM z)
SELECT CAST(file_id AS INTEGER) AS file_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(x) AS INTEGER) AS min_x, CAST(MAX(x) AS INTEGER) AS max_x,
       CAST(MIN(y) AS INTEGER) AS min_y, CAST(MAX(y) AS INTEGER) AS max_y,
       CAST(MIN(z) AS BIGINT) AS min_z, CAST(MAX(z) AS BIGINT) AS max_z
FROM f GROUP BY file_id
"""


ZORDER_MANIFEST = _zorder_sql()

STREAMING_JOIN = """
WITH p AS (
  SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS us
  FROM events WHERE event_type = 'purchase'
),
v AS (
  SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS us
  FROM events WHERE event_type = 'view'
)
SELECT p.event_id AS purchase_id, p.user_id, p.us AS purchase_us,
       v.event_id AS view_id, v.us AS view_us
FROM p JOIN v
  ON p.user_id = v.user_id
 AND v.us <= p.us
 AND v.us >= p.us - CAST(7200000000 AS BIGINT)
"""


def _dsir_select_sql(k: int = 50, b: int = 256) -> str:
    """DSIR oracle (Xie et al. 2023): independent re-derivation of the
    hashed unigram+bigram rate-difference weights and the top-k
    selection. All-integer ppm arithmetic — exact on both engines."""
    return f"""
WITH d AS (
  SELECT doc_id, CAST(lang = 'en' AS BIGINT) AS is_t,
         string_split_regex(trim(text), '\\s+') AS w
  FROM documents
), f AS (
  SELECT doc_id, is_t, unnest(list_concat(w,
           CASE WHEN len(w) >= 2
                THEN list_transform(range(1, len(w)),
                                    i -> w[i] || ' ' || w[i + 1])
                ELSE CAST([] AS VARCHAR[]) END)) AS f
  FROM d
), hb AS (
  SELECT doc_id, is_t,
         CAST(('0x' || substr(md5(f), 1, 8))::BIGINT % {b} AS BIGINT)
           AS bucket
  FROM f
), c AS (
  SELECT bucket, CAST(SUM(is_t) AS BIGINT) AS c_target,
         CAST(COUNT(*) AS BIGINT) AS c_raw
  FROM hb GROUP BY bucket
), t AS (
  SELECT SUM(c_target) AS t_target, SUM(c_raw) AS t_raw FROM c
), wt AS (
  SELECT bucket,
         (c_target + 1) * 1000000 // (t_target + {b})
         - (c_raw + 1) * 1000000 // (t_raw + {b}) AS weight
  FROM c, t
), pb AS (
  SELECT doc_id AS id, bucket, CAST(COUNT(*) AS BIGINT) AS c
  FROM hb GROUP BY doc_id, bucket
), s AS (
  SELECT id, CAST(SUM(c) AS BIGINT) AS n_feats,
         CAST(SUM(c * weight) AS BIGINT) AS score
  FROM pb JOIN wt USING (bucket) GROUP BY id
), r AS (
  SELECT CAST(row_number() OVER (ORDER BY score DESC, id ASC)
              AS BIGINT) AS rank, id, n_feats, score
  FROM s
)
SELECT rank, id, n_feats, score FROM r WHERE rank <= {k}
"""


DATA_SELECT_DSIR = _dsir_select_sql()


def _bpe_fertility_sql(n: int = _BPE_N_MERGES) -> str:
    """Fertility oracle: the shared BPE training prefix (same merge
    chain as bpe_train_table/bpe_encode_tokens) joined to per-(lang,
    word) counts; all rollups integer-exact."""
    return _bpe_train_prefix(n) + f""", sub AS (
  SELECT word, CAST(len(string_split(seq, ' ')) AS BIGINT) AS n_sub
  FROM v{n}
), lw AS (
  SELECT lang, word, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT lang, unnest(string_split(text, ' ')) AS word
        FROM documents)
  WHERE word <> '' GROUP BY lang, word
), r AS (
  SELECT lang, CAST(SUM(cnt) AS BIGINT) AS n_words,
         CAST(SUM(cnt * n_sub) AS BIGINT) AS n_tokens,
         CAST(SUM(cnt * length(word)) AS BIGINT) AS n_chars
  FROM lw JOIN sub USING (word) GROUP BY lang
)
SELECT lang, n_words, n_tokens, n_chars,
       CAST(n_tokens * 1000000 // greatest(1, n_words) AS BIGINT)
         AS fertility_ppm,
       CAST(n_chars * 1000000 // greatest(1, n_tokens) AS BIGINT)
         AS chars_per_token_ppm
FROM r
"""


BPE_FERTILITY = _bpe_fertility_sql()


def _calibration_bins_sql(n_bins: int = 10) -> str:
    """Reliability-table oracle: the QC_WEIGHTS hashed classifier
    (shared constants, the sanctioned pattern), equal-width bins over
    the observed [min, max] score range re-derived in SQL."""
    from ..operators.textstats import QC_BUCKETS, QC_WEIGHTS

    wlit = "[" + ", ".join(str(w) for w in QC_WEIGHTS) + "]"
    return f"""
WITH t AS (
  SELECT string_split_regex(trim(text), '\\s+') AS w,
         CAST(lang = 'en' AS BIGINT) AS pos
  FROM documents
), s AS (
  SELECT CAST(list_aggregate(list_transform(w, x ->
              {wlit}[CAST(('0x' || substr(md5(x), 1, 8))::BIGINT
                          % {QC_BUCKETS} AS INTEGER) + 1]), 'sum')
              AS BIGINT) AS score, pos
  FROM t
), mm AS (SELECT MIN(score) AS lo, MAX(score) AS hi FROM s),
b AS (
  SELECT least({n_bins - 1},
               (score - lo) * {n_bins} // greatest(1, hi - lo + 1))
           AS bin, score, pos
  FROM s, mm
)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(score) AS BIGINT) AS sum_score,
       CAST(sum(pos) AS BIGINT) AS n_pos,
       CAST(sum(pos) * 1000 // count(*) AS BIGINT) AS pos_rate_x1000
FROM b GROUP BY bin
"""


QUALITY_CALIBRATION = _calibration_bins_sql()


def _span_corrupt_sql(p: int = 13, ln: int = 3) -> str:
    """Span-corruption oracle: the closed-form (doc_id, token index)
    mask schedule replayed with DuckDB list comprehensions; sentinel
    text and the masked-token targets re-assembled independently."""
    return f"""
WITH d AS (
  SELECT doc_id AS id,
         string_split_regex(trim(text), '\\s+') AS w,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
              ::BIGINT % 11 AS BIGINT) AS s
  FROM documents
), e AS (
  SELECT id, w, s, CAST(len(w) AS BIGINT) AS n,
         range(0, len(w)) AS idx
  FROM d
)
SELECT id,
  CAST(CASE WHEN n <= 0 THEN 0 ELSE n END AS BIGINT) AS n_tokens,
  CAST(CASE WHEN n <= 0 THEN 0 ELSE
    len(list_filter(idx, i -> i % {p} >= s AND i % {p} < s + {ln}))
  END AS BIGINT) AS n_masked,
  CASE WHEN n <= 0 THEN '' ELSE
    coalesce(array_to_string(list_filter(list_transform(idx, i ->
      CASE WHEN i % {p} = s
             THEN '<extra_id_' || CAST(i // {p} AS VARCHAR) || '>'
           WHEN i % {p} > s AND i % {p} < s + {ln} THEN NULL
           ELSE w[CAST(i + 1 AS INTEGER)] END),
      x -> x IS NOT NULL), ' '), '')
  END AS input_text,
  -- array_to_string of an EMPTY list is NULL in DuckDB (Spark's
  -- array_join gives ''), so both emissions coalesce to ''
  CASE WHEN n <= 0 THEN '' ELSE
    coalesce(array_to_string(list_filter(list_transform(idx, i ->
      CASE WHEN i % {p} = s
             THEN '<extra_id_' || CAST(i // {p} AS VARCHAR) || '> '
                  || w[CAST(i + 1 AS INTEGER)]
           WHEN i % {p} > s AND i % {p} < s + {ln}
             THEN w[CAST(i + 1 AS INTEGER)]
           ELSE NULL END),
      x -> x IS NOT NULL), ' '), '')
  END AS target_text
FROM e
"""


SPAN_CORRUPT = _span_corrupt_sql()


def _heavy_hitters_sql(t: int = 64) -> str:
    """Heavy-hitters oracle: the exact definition (count * t >= N),
    no sketch — the Misra-Gries candidate pass must be invisible in
    the final answer."""
    return f"""
WITH d AS (
  SELECT string_split_regex(trim(text), '\\s+') AS w FROM documents
), n AS (
  SELECT CAST(SUM(len(w)) AS BIGINT) AS n_total FROM d
), toks AS (
  SELECT unnest(w) AS word FROM d
), c AS (
  SELECT word, CAST(count(*) AS BIGINT) AS total
  FROM toks WHERE word <> '' GROUP BY word
)
SELECT word, total,
       CAST(total * 1000000 // greatest(1, n_total) AS BIGINT)
         AS share_ppm
FROM c, n WHERE total * {t} >= n_total
"""


TEXT_HEAVY_HITTERS = _heavy_hitters_sql()


def _collocation_sql(k: int = 25, min_count: int = 5) -> str:
    """Collocation-lift oracle: unigram/bigram counts and the exact
    integer lift re-derived independently; same truncation order as
    the Spark expression (all operands positive, so floor == trunc)."""
    return f"""
WITH d AS (
  SELECT string_split_regex(trim(text), '\\s+') AS w FROM documents
), n AS (
  SELECT CAST(SUM(len(w)) AS BIGINT) AS n_total FROM d
), uni AS (
  SELECT word, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(w) AS word FROM d)
  WHERE word <> '' GROUP BY word
), bi AS (
  SELECT pair, CAST(count(*) AS BIGINT) AS c_ab
  FROM (SELECT unnest(CASE WHEN len(w) >= 2
          THEN list_transform(range(1, len(w)),
                              i -> w[i] || ' ' || w[i + 1])
          ELSE CAST([] AS VARCHAR[]) END) AS pair
        FROM d)
  GROUP BY pair HAVING count(*) >= {min_count}
), j AS (
  SELECT pair, c_ab,
         CAST((c_ab * n_total // ua.c) * 1000 // ub.c AS BIGINT)
           AS lift_x1000
  FROM bi CROSS JOIN n
  JOIN uni ua ON split_part(pair, ' ', 1) = ua.word
  JOIN uni ub ON split_part(pair, ' ', 2) = ub.word
), r AS (
  SELECT CAST(row_number() OVER (ORDER BY lift_x1000 DESC, pair ASC)
              AS BIGINT) AS rank, pair, c_ab, lift_x1000
  FROM j
)
SELECT rank, pair, c_ab, lift_x1000 FROM r WHERE rank <= {k}
"""


COLLOCATION_TOPK = _collocation_sql()


def _lang_confusion_sql() -> str:
    """Confusion-matrix oracle: the lang_id argmax re-derived (same
    CTE pieces as TEXT_LANG_ID) against the ground-truth lang column."""
    score_cols = []
    for lang in LANGS:
        vals = ", ".join(f"'{s}'" for s in LANG_STOPWORDS[lang])
        score_cols.append(
            f"len(list_filter(w, x -> x IN ({vals}))) AS s_{lang}"
        )
    best = "GREATEST({})".format(
        ", ".join(f"s_{lang}" for lang in LANGS))
    pred = "CASE WHEN best <= 0 THEN 'und' " + " ".join(
        f"WHEN s_{lang} = best THEN '{lang}'" for lang in LANGS
    ) + " END"
    return f"""
WITH d AS (
  SELECT lang AS true_lang, string_split(text, ' ') AS w
  FROM documents
), s AS (SELECT true_lang, {', '.join(score_cols)} FROM d),
b AS (SELECT *, {best} AS best FROM s),
p AS (SELECT true_lang, {pred} AS pred_lang FROM b)
SELECT true_lang, pred_lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(CAST(true_lang = pred_lang AS BIGINT)) AS BIGINT)
         AS n_match
FROM p GROUP BY true_lang, pred_lang
"""


LANG_CONFUSION = _lang_confusion_sql()


def _shard_plan_sql(target: int = 16384) -> str:
    """Shard-plan oracle: the cumulative byte offset as one window
    cumsum (fine at oracle scale; the Spark side uses the two-phase
    prefix), whole-doc shard = offset // target."""
    return f"""
WITH d AS (
  SELECT doc_id, CAST(strlen(text) AS BIGINT) AS b
  FROM documents
), c AS (
  SELECT doc_id, b,
         COALESCE(SUM(b) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS off
  FROM d
), s AS (
  SELECT doc_id, b, off // {target} AS shard_id FROM c
)
SELECT CAST(shard_id AS BIGINT) AS shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(b) AS BIGINT) AS sum_bytes,
       CAST(min(doc_id) AS BIGINT) AS min_doc,
       CAST(max(doc_id) AS BIGINT) AS max_doc
FROM s GROUP BY shard_id
"""


SHARD_PLAN = _shard_plan_sql()


MIX_PLAN_TOTAL_PARTS = 50  # sum of (i % 4) + 1 over src0..src19

MIX_PLAN = f"""
WITH c AS (
  SELECT source,
         CAST(SUM(len(string_split_regex(trim(text), '\\s+')))
              AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), t AS (SELECT SUM(n_tokens) AS total_tokens FROM c),
p AS (
  SELECT source, n_tokens, total_tokens,
         (CAST(substr(source, 4) AS BIGINT) % 4) + 1 AS parts
  FROM c, t
)
SELECT source, n_tokens,
       CAST(parts * 1000000 // {MIX_PLAN_TOTAL_PARTS} AS BIGINT)
         AS target_ppm,
       CAST(total_tokens * parts // {MIX_PLAN_TOTAL_PARTS} AS BIGINT)
         AS tokens_needed,
       CAST((total_tokens * parts // {MIX_PLAN_TOTAL_PARTS}) * 1000
            // greatest(1, n_tokens) AS BIGINT) AS epochs_x1000
FROM p
"""

ANCHOR_TEXT_AGG = """
WITH d AS (SELECT doc_id AS n FROM documents),
t AS (
  SELECT 'site' || (n % 7) || '.example.com' AS domain,
         'read more ' || n AS anchor
  FROM d
  UNION ALL
  SELECT 'www.mirror' || (n % 3) || '.org', 'mirror ' || n FROM d
),
da AS (
  SELECT domain, anchor, CAST(count(*) AS BIGINT) AS cnt
  FROM t GROUP BY domain, anchor
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY domain
             ORDER BY cnt DESC, anchor ASC) AS rn
  FROM da
),
a AS (
  SELECT domain, CAST(SUM(cnt) AS BIGINT) AS n_anchors,
         CAST(count(*) AS BIGINT) AS n_unique
  FROM da GROUP BY domain
)
SELECT a.domain, a.n_anchors, a.n_unique,
       r.anchor AS top_anchor, r.cnt AS top_count
FROM a JOIN r ON a.domain = r.domain AND r.rn = 1
"""


EVENTS_SKEW_REPORT = """
WITH c AS (
  SELECT CAST(user_id AS VARCHAR) AS key,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY user_id
), t AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
         CAST(COUNT(*) AS BIGINT) AS n_keys
  FROM c
), r AS (
  SELECT CAST(row_number() OVER (ORDER BY cnt DESC, key ASC)
              AS BIGINT) AS rank, key, cnt
  FROM c
)
SELECT rank, key, cnt,
       CAST(cnt * 1000000 // greatest(1, n_rows) AS BIGINT)
         AS share_ppm,
       n_rows, n_keys
FROM r, t WHERE rank <= 10
"""


def _length_percentiles_sql(percentiles=(50, 90, 99)) -> str:
    arms = "\n  UNION ALL\n".join(
        f"""  SELECT CAST({p} AS BIGINT) AS pct,
         CAST(({p} * n + 99) // 100 AS BIGINT) AS target_rank,
         (SELECT CAST(MIN(len) AS BIGINT) FROM cum
          WHERE cum >= ({p} * n + 99) // 100) AS value
  FROM t""" for p in percentiles)
    return f"""
WITH c AS (
  SELECT CAST(strlen(text) AS BIGINT) AS len,
         CAST(count(*) AS BIGINT) AS cnt
  FROM documents GROUP BY strlen(text)
), cum AS (
  SELECT len, SUM(cnt) OVER (ORDER BY len
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM c
), t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM c)
{arms}
"""


LENGTH_PERCENTILES = _length_percentiles_sql()


EMB_DIM_STATS = """
WITH e AS (
  SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), x AS (
  SELECT CAST(u.i - 1 AS BIGINT) AS dim,
         CAST(FLOOR(v[CAST(u.i AS INTEGER)] * 1000000.0) AS BIGINT)
           AS fx
  FROM e, unnest(range(1, len(v) + 1)) AS u(i)
)
SELECT dim, CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(fx) AS BIGINT) AS sum_fx,
       CAST(SUM(fx * fx) AS BIGINT) AS sum_fx2,
       CAST(MIN(fx) AS BIGINT) AS min_fx,
       CAST(MAX(fx) AS BIGINT) AS max_fx
FROM x GROUP BY dim
"""

# closed-form model of the robots gate corpus: domains dom0..dom4
# carry a '*' group (Disallow /private, Allow /private/ok,
# Disallow /d{k}) EXCEPT dom4 whose robots.txt has only a named-agent
# group; URL paths cycle on doc_id % 4 (see q_robots_crawl_eval)
ROBOTS_CRAWL_EVAL = """
WITH d AS (SELECT doc_id AS n, doc_id % 5 AS k, doc_id % 4 AS m
           FROM documents)
SELECT n AS url_id,
       'dom' || k AS domain,
       CASE m
         WHEN 0 THEN '/private/x' || n
         WHEN 1 THEN '/private/ok/x' || n
         WHEN 2 THEN '/d' || k || 'stuff' || n
         ELSE '/public/' || n END AS path,
       CAST(CASE WHEN k = 4 THEN 1
                 WHEN m = 0 THEN 0
                 WHEN m = 1 THEN 1
                 WHEN m = 2 THEN 0
                 ELSE 1 END AS INTEGER) AS allowed,
       CASE WHEN k = 4 OR m = 3 THEN NULL
            WHEN m = 0 THEN 'disallow'
            WHEN m = 1 THEN 'allow'
            ELSE 'disallow' END AS rule_type,
       CASE WHEN k = 4 OR m = 3 THEN NULL
            WHEN m = 0 THEN '/private'
            WHEN m = 1 THEN '/private/ok'
            ELSE '/d' || k END AS rule_path
FROM d
"""


SITEMAP_INGEST = """
WITH d AS (SELECT doc_id AS n, doc_id % 5 AS k FROM documents),
t AS (
  SELECT 'dom' || k AS domain, CAST(0 AS BIGINT) AS pos,
         'https://site' || (n % 7) || '.example.com/p/' || n AS loc,
         '2026-01-' || lpad(CAST((n % 28) + 1 AS VARCHAR), 2, '0')
           AS lastmod
  FROM d
  UNION ALL
  SELECT 'dom' || k, 1,
         'https://site' || (n % 7) || '.example.com/q/' || n, NULL
  FROM d
)
SELECT domain, pos, loc, lastmod FROM t
"""

CRAWL_SCHEDULE = """
WITH u AS (
  SELECT doc_id AS url_id, 'site' || (doc_id % 7) AS domain
  FROM documents
), s AS (
  SELECT url_id, domain,
         CAST(row_number() OVER (PARTITION BY domain ORDER BY url_id)
              - 1 AS BIGINT) AS slot
  FROM u
)
SELECT url_id, domain, slot,
       CAST(slot * 1000 AS BIGINT) AS fetch_at_ms
FROM s
"""


def _script_detect_sql() -> str:
    """Unicode-script oracle: same tail construction as the gate, the
    same five RE2 character classes (RE2 spells ranges \\x{...},
    Java \\u...)."""
    ranges = (
        ("latin", "A-Za-z"),
        ("cyrillic", r"\x{0400}-\x{04FF}"),
        ("greek", r"\x{0370}-\x{03FF}"),
        ("arabic", r"\x{0600}-\x{06FF}"),
        ("cjk", r"\x{4E00}-\x{9FFF}"),
    )
    counts = ",\n         ".join(
        f"CAST(length(txt) - length(regexp_replace(txt,"
        f" '[{rng}]', '', 'g')) AS BIGINT) AS n_{name}"
        for name, rng in ranges)
    best = "GREATEST({})".format(
        ", ".join(f"n_{name}" for name, _ in ranges))
    pred = "CASE WHEN best <= 0 THEN 'other' " + " ".join(
        f"WHEN n_{name} = best THEN '{name}'" for name, _ in ranges
    ) + " END"
    return f"""
WITH d AS (
  SELECT doc_id AS id, doc_id % 4 AS m,
         (doc_id % 13) * 50 + 1 AS reps, text
  FROM documents
), w AS (
  SELECT id,
         text || CASE m
           WHEN 1 THEN ' ' || repeat('б', CAST(reps AS INTEGER))
           WHEN 2 THEN ' ' || repeat('漢', CAST(reps AS INTEGER))
           WHEN 3 THEN ' ' || repeat('ب', CAST(reps AS INTEGER))
           ELSE '' END AS txt
  FROM d
), s AS (
  SELECT id,
         {counts}
  FROM w
), b AS (SELECT *, {best} AS best FROM s)
SELECT id, n_latin, n_cyrillic, n_greek, n_arabic, n_cjk,
       {pred} AS script
FROM b
"""


SCRIPT_DETECT = _script_detect_sql()


def _corpus_drift_sql(b: int = 128) -> str:
    """Drift oracle: slice A = even doc_id, hashed-unigram smoothed
    ppm per bucket, absolute gap re-derived independently."""
    return f"""
WITH t AS (
  SELECT CAST(doc_id % 2 = 0 AS BIGINT) AS is_a,
         unnest(string_split_regex(trim(text), '\\s+')) AS tok
  FROM documents
), h AS (
  SELECT is_a,
         CAST(('0x' || substr(md5(tok), 1, 8))::BIGINT % {b}
              AS BIGINT) AS bucket
  FROM t WHERE tok <> ''
), c AS (
  SELECT bucket, CAST(SUM(is_a) AS BIGINT) AS c_a,
         CAST(COUNT(*) - SUM(is_a) AS BIGINT) AS c_b
  FROM h GROUP BY bucket
), tt AS (
  SELECT SUM(c_a) AS t_a, SUM(c_b) AS t_b FROM c
)
SELECT bucket, c_a, c_b,
       CAST((c_a + 1) * 1000000 // (t_a + {b}) AS BIGINT) AS ppm_a,
       CAST((c_b + 1) * 1000000 // (t_b + {b}) AS BIGINT) AS ppm_b,
       CAST(abs((c_a + 1) * 1000000 // (t_a + {b})
                - (c_b + 1) * 1000000 // (t_b + {b})) AS BIGINT)
         AS l1_ppm
FROM c, tt
"""


CORPUS_DRIFT = _corpus_drift_sql()

# shared verbatim with operators/textstats.qa_mine (RE2-safe, no
# lookbehind)
_QA_SENTENCE_RE = "[^.!?]+[.!?]*"

QA_MINE = f"""
WITH d AS (
  SELECT doc_id AS id,
         'What is item ' || doc_id || '? It is thing ' || doc_id
         || '. ' || CASE WHEN doc_id % 3 = 0
              THEN 'Why bucket ' || (doc_id % 7)
                   || '? Because rule ' || (doc_id % 7) || '. '
              ELSE '' END || text AS txt
  FROM documents
), s AS (
  SELECT id,
         list_transform(regexp_extract_all(txt,
           '({_QA_SENTENCE_RE})', 1), x -> trim(x)) AS s
  FROM d
), p AS (
  SELECT id,
         list_filter(list_transform(range(1, len(s)),
           i -> CASE WHEN s[i] LIKE '%?'
                THEN {{'q': s[i], 'a': s[i + 1]}} END),
           x -> x IS NOT NULL) AS ps
  FROM s WHERE len(s) >= 2
), e AS (
  SELECT id, unnest(ps) AS p,
         generate_subscripts(ps, 1) - 1 AS pair_no
  FROM p
)
SELECT id, CAST(pair_no AS BIGINT) AS pair_no,
       p.q AS question, p.a AS answer
FROM e
"""


DEDUP_GLOBAL_SENTENCES = f"""
WITH src AS (
  SELECT doc_id AS id,
         'All rights reserved. Pair note ' || (doc_id // 2) || '. '
         || CASE WHEN doc_id % 3 = 0
                 THEN 'Subscribe to our newsletter. ' ELSE '' END
         || text AS txt
  FROM documents
), d AS (
  SELECT id, list_transform(regexp_extract_all(txt,
           '({_QA_SENTENCE_RE})', 1), x -> trim(x)) AS s
  FROM src
), e AS (
  SELECT id, generate_subscripts(s, 1) - 1 AS pos, unnest(s) AS sent
  FROM d
), dft AS (
  SELECT sent, CAST(count(DISTINCT id) AS BIGINT) AS df
  FROM e GROUP BY sent
), k AS (
  SELECT e.id, e.pos, e.sent, (dft.df > 2) AS boiler
  FROM e JOIN dft USING (sent)
)
SELECT id, CAST(count(*) AS BIGINT) AS n_sentences,
       CAST(SUM(CASE WHEN NOT boiler THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       COALESCE(string_agg(CASE WHEN NOT boiler THEN sent END,
                           ' ' ORDER BY pos), '') AS text_clean
FROM k GROUP BY id
"""


# mirrors q_corpus_scd2's derived snapshots: old = docs with
# doc_id % 13 != 0; new = text rewritten for doc_id % 7 == 0, ids
# shifted +100000 for doc_id % 11 == 0 (additions), % 13 == 0 rows
# present only in new's base (removals come from old-only rows)
CORPUS_SCD2 = """
WITH o AS (
  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 13 <> 0
), nsrc AS (
  SELECT CASE WHEN doc_id % 11 = 0 THEN doc_id + 100000
              ELSE doc_id END AS doc_id,
         CASE WHEN doc_id % 7 = 0 THEN 'REV2 ' || text
              ELSE text END AS text
  FROM documents
), n AS (SELECT doc_id, md5(text) AS h FROM nsrc),
j AS (
  SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
         o.h AS h_old, n.h AS h_new
  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
), v1 AS (
  SELECT doc_id, CAST(1 AS BIGINT) AS version,
         h_old AS content_hash, CAST(1 AS BIGINT) AS valid_from,
         CASE WHEN h_new IS NULL OR h_old <> h_new
              THEN CAST(2 AS BIGINT) END AS valid_to,
         CAST(CASE WHEN h_new IS NULL OR h_old <> h_new
              THEN 0 ELSE 1 END AS INTEGER) AS is_current
  FROM j WHERE h_old IS NOT NULL
), v2 AS (
  SELECT doc_id, CAST(2 AS BIGINT), h_new, CAST(2 AS BIGINT),
         CAST(NULL AS BIGINT),
         CAST(1 AS INTEGER)
  FROM j WHERE h_old IS NULL
     OR (h_new IS NOT NULL AND h_old <> h_new)
)
SELECT * FROM v1 UNION ALL SELECT * FROM v2
"""


ICT_PAIRS = """
WITH d AS (
  SELECT doc_id AS id, text,
         CAST(ceil(GREATEST(length(text) - 32, 1) / 96.0) AS BIGINT)
           AS n
  FROM documents
), c AS (
  SELECT id,
         list_transform(range(0, n),
           i -> substr(text, CAST(i * 96 + 1 AS BIGINT), 128)) AS c
  FROM d
), p AS (
  SELECT id, xor(id, 1) AS partner,
         CAST(u.i AS BIGINT) AS pair_no,
         c[CAST(u.i + 1 AS INTEGER)] AS query,
         c[CAST(u.i + 2 AS INTEGER)] AS positive
  FROM c, unnest(range(0, len(c) - 1)) AS u(i)
  WHERE len(c) >= 2
), g AS (SELECT id AS partner, c[1] AS negative FROM c)
SELECT p.id, p.pair_no, p.query, p.positive, g.negative
FROM p JOIN g USING (partner)
"""

# ------------------------------------------------------- compare / fusion

# compare tool (frontend utils/textDiff.ts + useCompareHighlights.ts)
# over (base corpus, revised corpus with the three planted edits from
# docs_compare_rev_from_documents): the per-type token multisets are
# closed-form — any maximum common subsequence excludes exactly one
# copy each of w[5] and w[11] (the uppercase planted tokens cannot
# match the lowercase vocabulary), so the sorted joins are exact.
COMPARE_DOCS = """
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         CAST(doc_id AS VARCHAR) AS num,
         string_split(text, ' ') AS w
  FROM documents
)
SELECT did AS doc_id,
       CAST(len(w) - 2 AS BIGINT) AS n_unchanged,
       CAST(2 AS BIGINT) AS n_removed,
       CAST(2 AS BIGINT) AS n_added,
       array_to_string(list_sort([w[6], w[12]]), ' ') AS removed_sorted,
       'INSTOK' || num || ' REVTOK' || num AS added_sorted
FROM d WHERE len(w) >= 18
"""

# buildWordChanges parity over the unique-token corpus (q_compare_changes
# derives base tokens tok<d>_i, i < 24 + d%7, and the revised stream with
# a 1->2 substitution at t3, a 2-token deletion at t8..t9, a 2-token
# insertion after t12 exercising the ','-leading label, and a
# substitution+insertion at t17): every token is unique, so the runs
# and their pane positions are closed-form.
COMPARE_CHANGES = """
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         CAST(doc_id AS VARCHAR) AS n
  FROM documents
), g(pane, gi, first_pos, last_pos, tmpl, n_tokens) AS (VALUES
  ('base', 0, 3, 3, 'tok#_3', 1),
  ('base', 1, 8, 9, 'tok#_8 tok#_9', 2),
  ('base', 2, 17, 17, 'tok#_17', 1),
  ('comparison', 0, 3, 4, 'ALPHA# BETA#', 2),
  ('comparison', 1, 12, 13, ', YES#', 2),
  ('comparison', 2, 18, 19, 'GAMMA# DELTA#', 2))
SELECT did AS doc_id, pane,
       CAST(gi AS BIGINT) AS group_idx,
       pane || '-group-t' || CAST(first_pos AS VARCHAR)
            || '-t' || CAST(last_pos AS VARCHAR) AS group_id,
       CAST(first_pos AS BIGINT) AS first_pos,
       CAST(last_pos AS BIGINT) AS last_pos,
       replace(tmpl, '#', n) AS label,
       CAST(n_tokens AS BIGINT) AS n_tokens
FROM d CROSS JOIN g
"""


def _rrf_sql(pool: int = 20, k: int = 10) -> str:
    """Reciprocal-rank fusion (operators/retrieval.rrf_fusion): BM25
    top-pool for q0..q2 fused with cosine top-pool for dense query
    vectors 7/21/42, integer contributions 1e9 // (60 + rank)."""
    return f"""
WITH sparse AS (
  SELECT CAST(substr(query_id, 2) AS BIGINT) AS query_no,
         doc_id, rank
  FROM ({_bm25_sql(pool)}) s
), e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         FROM embeddings),
q AS (SELECT id AS qid, v AS qv,
             CASE id WHEN 7 THEN 0 WHEN 21 THEN 1 ELSE 2 END AS query_no
      FROM e WHERE id IN (7, 21, 42)),
sc AS (
  SELECT query_no, id,
         list_dot_product(qv, v) / (sqrt(list_dot_product(qv, qv))
           * sqrt(list_dot_product(v, v))) AS c
  FROM q, e WHERE id <> qid
),
dense AS (
  SELECT query_no, id AS doc_id,
         row_number() OVER (PARTITION BY query_no
                            ORDER BY c DESC, id ASC) AS rank
  FROM sc QUALIFY rank <= {pool}
),
merged AS (
  SELECT query_no, doc_id, 1000000000 // (60 + rank) AS contrib
  FROM sparse
  UNION ALL
  SELECT query_no, doc_id, 1000000000 // (60 + rank) FROM dense
),
fused AS (
  SELECT query_no, doc_id,
         CAST(SUM(contrib) AS BIGINT) AS rrf_x1e9,
         CAST(COUNT(*) AS BIGINT) AS n_lists
  FROM merged GROUP BY query_no, doc_id
)
SELECT query_no,
       CAST(row_number() OVER (PARTITION BY query_no
            ORDER BY rrf_x1e9 DESC, doc_id ASC) AS BIGINT) AS rank,
       doc_id, rrf_x1e9, n_lists
FROM fused QUALIFY rank <= {k}
"""


RRF_FUSION = _rrf_sql()

# Structured <table> extraction: q_html_table_extract builds, per doc,
# a 4-row header+colspan table plus a second 1-row table from the
# document's word list (g(i) = w[i mod n]) and REALLY parses it with
# kernel/html_tables.py; the oracle states the closed-form cells.
HTML_TABLE_EXTRACT = """
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS id,
         string_split(text, ' ') AS w
  FROM documents
), g(ti, ri, ci, hdr, span, widx) AS (VALUES
  (0, 0, 0, true, 1, 0), (0, 0, 1, true, 1, 1), (0, 0, 2, true, 1, 2),
  (0, 1, 0, false, 1, 3), (0, 1, 1, false, 1, 4), (0, 1, 2, false, 1, 5),
  (0, 2, 0, false, 2, 6), (0, 2, 2, false, 1, 7),
  (0, 3, 0, false, 1, 8), (0, 3, 1, false, 1, 9), (0, 3, 2, false, 1, 10),
  (1, 0, 0, false, 1, 1), (1, 0, 1, false, 1, 2))
SELECT id,
       CAST(ti AS BIGINT) AS table_idx,
       CAST(ri AS BIGINT) AS row_idx,
       CAST(ci AS BIGINT) AS col_idx,
       hdr AS is_header,
       CAST(span AS BIGINT) AS colspan,
       w[(widx % len(w)) + 1] AS cell_text
FROM d CROSS JOIN g
"""

# RSS ingestion: q_feed_ingest builds a per-doc feed with 2 + d%3
# linked items (pubDate on even positions) plus a trailing link-less
# item that must drop; the closed form is the kept item list.
FEED_INGEST = """
WITH d AS (
  SELECT CAST(doc_id AS VARCHAR) AS ds, doc_id AS d,
         string_split(text, ' ') AS w
  FROM documents
), i AS (
  SELECT ds, d, w, unnest(range(0, 2 + d % 3)) AS i FROM d
)
SELECT 'ex' || ds AS domain,
       CAST(i AS BIGINT) AS pos,
       'item ' || w[CAST((i % len(w)) + 1 AS BIGINT)] AS title,
       'https://ex' || ds || '.com/p' || CAST(i AS VARCHAR) AS link,
       CASE WHEN i % 2 = 0 THEN 'day' || CAST(i AS VARCHAR) END AS pub_date
FROM i
"""

# Wire-compliance audit (operators/verify.py) over the planted-
# violation corpus (docs_corrupt_from_documents): the failing rule
# set is doc-number arithmetic — d%5 (needs > 8 words for a second
# span) trips order-dense, d%7 kind-known, d%3 text-wire, d%11
# media-ref; everything else in the synth corpus is well-formed.
VERIFY_DOCS = """
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did, doc_id AS n,
         len(string_split(text, ' ')) AS nw
  FROM documents
), f AS (
  SELECT did,
         COALESCE(list_sort(list_filter([
           CASE WHEN n % 5 = 0 AND nw > 8 THEN 'order-dense' END,
           CASE WHEN n % 7 = 0 THEN 'kind-known' END,
           CASE WHEN n % 3 = 0 THEN 'text-wire' END,
           CASE WHEN n % 11 = 0 THEN 'media-ref' END
         ], x -> x IS NOT NULL)), []) AS failed
  FROM d
)
SELECT did AS doc_id,
       len(failed) = 0 AS compliant,
       CAST(len(failed) AS BIGINT) AS total_failures,
       COALESCE(array_to_string(failed, ' '), '') AS failed_rules
FROM f
"""

# Incremental re-extraction (runtime/incremental.extract_incremental)
# between the base corpus and the compare-rev snapshot: docs under 18
# words are byte-identical (reused = true, carried over), edited docs
# re-extract — either way the output must equal the closed-form
# extraction of the REVISED text (E1 lines arithmetic).
EXTRACT_INCREMENTAL = """
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS did,
         CAST(doc_id AS VARCHAR) AS num,
         string_split(text, ' ') AS w0
  FROM documents
), e AS (
  SELECT did,
         CASE WHEN len(w0) >= 18 THEN
           w0[1:5] || ['REVTOK' || num] || w0[7:11] || w0[13:18]
             || ['INSTOK' || num] || w0[19:len(w0)]
         ELSE w0 END AS w,
         len(w0) < 18 AS reused
  FROM d
), l AS (
  SELECT did, reused, w,
         unnest(range(0, CAST(ceil(len(w) / 8.0) AS BIGINT))) AS i
  FROM e
), lines AS (
  SELECT did, reused, i,
         array_to_string(w[CAST(i*8+1 AS BIGINT):CAST(i*8+8 AS BIGINT)],
                         ' ') AS line
  FROM l WHERE i < 2000
)
SELECT did AS doc_id, reused,
       md5(string_agg(line, chr(10) ORDER BY i)) AS text_md5,
       CAST(sum(length(line)) + count(*) - 1 AS BIGINT) AS n_chars
FROM lines GROUP BY did, reused
"""


# blocked Levenshtein title dedup (operators/dedup.edit_distance_pairs
# + the q_dedup_title_levenshtein planted 4-doc groups): the oracle
# replicates the operator's BLOCKING SEMANTICS — (leading token,
# length DIV 8) key, string-ordered pair canon, length-difference
# prune — with DuckDB's exact levenshtein()
DEDUP_TITLE_LEVENSHTEIN = """
WITH t AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS id,
         'doc' || CAST(doc_id // 4 AS VARCHAR) ||
         CASE doc_id % 4
           WHEN 0 THEN ' annual report'
           WHEN 1 THEN ' annual reports'
           WHEN 2 THEN ' annual reporx'
           ELSE ' quarterly bulletin' END AS title
  FROM documents
), k AS (
  SELECT id, title,
         lower(split_part(title, ' ', 1)) || '#'
           || CAST(length(title) // 8 AS VARCHAR) AS bk,
         length(title) AS ln
  FROM t
)
SELECT a.id AS id_a, b.id AS id_b,
       CAST(levenshtein(a.title, b.title) AS BIGINT) AS dist
FROM k a JOIN k b ON a.bk = b.bk AND a.id < b.id
WHERE abs(a.ln - b.ln) <= 2
  AND levenshtein(a.title, b.title) <= 2
"""

# triangle enumeration (operators/graph.triangles over the
# q_web_triangles doc-derived co-link paths): canonical undirected
# edges closed by two self-joins — each triangle exactly once as
# lexicographic (n1, n2, n3), the same canon the Spark operator emits
WEB_TRIANGLES = """
WITH d AS (
  SELECT doc_id % 97 AS x, (doc_id * doc_id + 3) % 97 AS y,
         (doc_id * 3 + 7) % 97 AS z
  FROM documents
), raw AS (
  SELECT 'dom' || CAST(x AS VARCHAR) AS s,
         'dom' || CAST(y AS VARCHAR) AS t FROM d
  UNION ALL
  SELECT 'dom' || CAST(y AS VARCHAR), 'dom' || CAST(z AS VARCHAR) FROM d
), e AS (
  SELECT DISTINCT least(s, t) AS u, greatest(s, t) AS v
  FROM raw WHERE s <> t
)
SELECT a.u AS n1, a.v AS n2, b.v AS n3
FROM e a
JOIN e b ON b.u = a.v
JOIN e c ON c.u = a.u AND c.v = b.v
"""


# multi-page TIFF frame walk (corpus.media.tiff_multipage_payload_for
# _ref): page count from sha256(ref) byte 7, per-page dims from
# sha256('tp:{ref}:{page}') bytes 1/2, and the decoded head is the
# 'tpx:' stream's first 8 bytes (PackBits is lossless) — all hex-digit
# expressions, one row per (ref, page) via unnested generate_series
MULTIMODAL_TIFF_PAGES = f"""
WITH d AS (
  SELECT DISTINCT 'media-' || substr(sha256(text), 1, 8) AS media_ref
  FROM documents
), np AS (
  SELECT media_ref, 2 + {_hexb(15)} % 4 AS n_pages
  FROM (SELECT media_ref, sha256(media_ref) AS h FROM d)
), pg AS (
  SELECT media_ref,
         unnest(generate_series(0, n_pages - 1)) AS page
  FROM np
), dims AS (
  SELECT media_ref, page,
         4 + {_hexb(3)} % 13 AS w,
         4 + {_hexb(5)} % 13 AS hgt
  FROM (SELECT media_ref, page,
               sha256('tp:' || media_ref || ':'
                      || CAST(page AS VARCHAR)) AS h
        FROM pg)
)
SELECT media_ref,
       CAST(page AS INTEGER) AS page,
       CAST(w AS INTEGER) AS width,
       CAST(hgt AS INTEGER) AS height,
       substr(sha256('tpx:' || media_ref || ':' || CAST(page AS VARCHAR)
                     || ':0'), 1, 16) AS px_head
FROM dims
"""


# local clustering coefficient (operators/graph.clustering_coefficient
# over the same co-link paths as WEB_TRIANGLES): per-node triangle
# membership by unnesting the enumerated triangles, exact micro-unit
# floor division — the same integer-determinism discipline as
# pagerank/hits
WEB_CLUSTERING_COEFF = """
WITH d AS (
  SELECT doc_id % 97 AS x, (doc_id * doc_id + 3) % 97 AS y,
         (doc_id * 3 + 7) % 97 AS z
  FROM documents
), raw AS (
  SELECT 'dom' || CAST(x AS VARCHAR) AS s,
         'dom' || CAST(y AS VARCHAR) AS t FROM d
  UNION ALL
  SELECT 'dom' || CAST(y AS VARCHAR), 'dom' || CAST(z AS VARCHAR) FROM d
), e AS (
  SELECT DISTINCT least(s, t) AS u, greatest(s, t) AS v
  FROM raw WHERE s <> t
), tri AS (
  SELECT a.u AS n1, a.v AS n2, b.v AS n3
  FROM e a
  JOIN e b ON b.u = a.v
  JOIN e c ON c.u = a.u AND c.v = b.v
), tn AS (
  SELECT n, COUNT(*) AS t
  FROM (SELECT n1 AS n FROM tri
        UNION ALL SELECT n2 FROM tri
        UNION ALL SELECT n3 FROM tri)
  GROUP BY n
), deg AS (
  SELECT n, COUNT(*) AS dg
  FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e)
  GROUP BY n
)
SELECT deg.n AS node,
       CAST(dg AS BIGINT) AS degree,
       CAST(COALESCE(t, 0) AS BIGINT) AS tri_count,
       CAST(CASE WHEN dg >= 2
                 THEN 2 * COALESCE(t, 0) * 1000000 // (dg * (dg - 1))
                 ELSE 0 END AS BIGINT) AS coeff_micro
FROM deg LEFT JOIN tn ON tn.n = deg.n
"""


# multi-page TIFF -> PDF wire (operators/multimodal.images_to_pdf
# under fitDocumentToImage over the tiff_multipage fixtures): per
# (doc, page p) two spans — pagemeta '{p+1}|{w}.0|{h}.0|0|' at offset
# 2p and media '{p+1}|0.0|0.0|{w}.0|{h}.0' at 2p+1 referencing
# '{ref}#p{p}' (the fixture always has >= 2 pages, so frames are
# always fragment-suffixed). Dims are integers, so Python's repr()
# renders exactly '<int>.0' — matched with '.0' string concat.
TIFF_TO_PDF = f"""
WITH d AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS doc_id,
         'media-' || substr(sha256(text), 1, 8) AS media_ref
  FROM documents
), np AS (
  SELECT doc_id, media_ref, 2 + {_hexb(15)} % 4 AS n_pages
  FROM (SELECT doc_id, media_ref, sha256(media_ref) AS h FROM d)
), pg AS (
  SELECT doc_id, media_ref,
         unnest(generate_series(0, n_pages - 1)) AS p
  FROM np
), dims AS (
  SELECT doc_id, media_ref, p,
         CAST(4 + {_hexb(3)} % 13 AS VARCHAR) || '.0' AS ws,
         CAST(4 + {_hexb(5)} % 13 AS VARCHAR) || '.0' AS hs
  FROM (SELECT doc_id, media_ref, p,
               sha256('tp:' || media_ref || ':'
                      || CAST(p AS VARCHAR)) AS h
        FROM pg)
)
SELECT doc_id, 'pagemeta' AS kind,
       CAST(p + 1 AS VARCHAR) || '|' || ws || '|' || hs || '|0|' AS text,
       '' AS media_ref,
       CAST(2 * p AS BIGINT) AS "offset"
FROM dims
UNION ALL
SELECT doc_id, 'media' AS kind,
       CAST(p + 1 AS VARCHAR) || '|0.0|0.0|' || ws || '|' || hs AS text,
       media_ref || '#p' || CAST(p AS VARCHAR) AS media_ref,
       CAST(2 * p + 1 AS BIGINT) AS "offset"
FROM dims
"""


# confusable-skeleton spoof detection (textstats.homoglyph_skeleton):
# the SAME parallel translate() map strings are imported from the
# operator so the two engines cannot drift; DuckDB's translate/length
# are character-based like Spark's
def _homoglyph_sql() -> str:
    from ..operators.textstats import _CONFUSABLE_DST, _CONFUSABLE_SRC

    src, dst = _CONFUSABLE_SRC, _CONFUSABLE_DST
    return f"""
WITH t AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS id,
         text || CASE doc_id % 3
                   WHEN 1 THEN ' pаypal'
                   WHEN 2 THEN ' paypal'
                   ELSE '' END AS txt
  FROM documents
)
SELECT id,
       CAST(length(txt) - length(translate(txt, '{src}', ''))
            AS BIGINT) AS n_confusables,
       split_part(translate(txt, '{src}', '{dst}'), ' ', -1)
         AS last_token,
       (length(txt) - length(translate(txt, '{src}', ''))) > 0
         AS is_spoof
FROM t
"""


TEXT_HOMOGLYPH = _homoglyph_sql()


# per-domain template-prefix mining (textstats.
# domain_prefix_boilerplate): LCP of ALL of a domain's texts equals
# LCP(min, max) under binary string order (the corpus is ASCII, so
# Spark UTF8_BINARY and DuckDB binary collation agree); the LCP
# length is the count of equal prefixes up to the 64-char cap
# (prefix equality is monotone)
DOMAIN_PREFIX = """
WITH t AS (
  SELECT 'site' || CAST(doc_id % 7 AS VARCHAR) AS domain,
         'site' || CAST(doc_id % 7 AS VARCHAR)
           || ' header boilerplate | ' || text AS txt
  FROM documents
), a AS (
  SELECT domain, COUNT(*) AS n_docs, min(txt) AS m1, max(txt) AS m2,
         least(length(min(txt)), length(max(txt)), 64) AS bound
  FROM t GROUP BY domain
), k AS (
  SELECT domain, n_docs, m1,
         CASE WHEN bound > 0
              THEN len(list_filter(range(1, bound + 1),
                       i -> substr(m1, 1, CAST(i AS INTEGER))
                            = substr(m2, 1, CAST(i AS INTEGER))))
              ELSE 0 END AS pl
  FROM a
)
SELECT domain, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(pl AS BIGINT) AS prefix_len,
       substr(m1, 1, CAST(pl AS INTEGER)) AS prefix
FROM k
"""


# mutual-kNN pair mining over the even/odd vec_id bipartition: the
# same float64 cosine + (cos DESC, id ASC) rank determinism as
# ANN_COSINE_TOPK, windowed in BOTH directions over one scored frame
EMB_MARGIN_PAIRS = f"""
WITH {_EMB_CTE},
a AS (SELECT id, v FROM e WHERE id % 2 = 0),
b AS (SELECT id, v FROM e WHERE id % 2 = 1),
s AS (
  SELECT a.id AS id_a, b.id AS id_b,
         list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v))
           * sqrt(list_dot_product(b.v, b.v))) AS c
  FROM a, b
),
r AS (
  SELECT id_a, id_b,
         CAST(row_number() OVER (PARTITION BY id_a
              ORDER BY c DESC, id_b ASC) AS BIGINT) AS rank_ab,
         CAST(row_number() OVER (PARTITION BY id_b
              ORDER BY c DESC, id_a ASC) AS BIGINT) AS rank_ba
  FROM s
)
SELECT id_a, id_b, rank_ab, rank_ba FROM r
WHERE rank_ab <= 3 AND rank_ba <= 3
"""


# ------------------------------------------------------- shared oracles
# gates whose result must equal another gate's exactly share its SQL

# streaming_pack reuses the batch packer's oracle verbatim — the
# batch/stream parity statement
STREAMING_PACK = PACK_SEQUENCES
# the streaming rollup must equal the batch rollup exactly — same
# oracle, different engine path
STREAMING_WINDOW_ROLLUP = EVENTS_HOURLY_ROLLUP
# ingest + restart + batch-resume must reproduce one-shot batch
# extraction exactly; scale preserves every layout decision and
# single-page concatenation preserves reading order; page-major
# row-major poster tiling preserves reading order exactly
STREAMING_INGEST_RESUME = EXTRACT_TEXT_SPANS
S7_SCALE_SINGLE_EXTRACT = EXTRACT_TEXT_SPANS
S7_POSTER_EXTRACT = EXTRACT_TEXT_SPANS
