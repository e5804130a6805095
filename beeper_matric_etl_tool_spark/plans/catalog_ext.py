"""Registered queries — extension tier (SURVEY §2.12) + event-time windows.

The LLM-data-pipeline operators over `documents`/`embeddings`, and the
window family over `events`. Oracle parity rules used throughout:

- doubles that aggregate across rows are rounded (4–6 dp) because partial
  aggregation order differs between engines;
- per-row float math (cosine, ratios) is sequential in both engines on the
  same inputs, so ranking uses rounded values + id tie-breaks to make
  top-k selection engine-independent;
- fingerprints are md5 (portable) — never engine-private hashes.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from beeper_matric_etl_tool_spark.ext import dedup as xdedup
from beeper_matric_etl_tool_spark.ext import quality as xquality
from beeper_matric_etl_tool_spark.ext import embed as xembed
from beeper_matric_etl_tool_spark.ext import similarity as xsim
from beeper_matric_etl_tool_spark.ext import text as xtext
from beeper_matric_etl_tool_spark.ext.pipeline import (
    CLUSTER_SPLIT_SALT,
    EPOCH_SALT,
    EPOCH_SHUFFLE_SALT,
    MIX_SALT,
    PACK_SALT,
    QUOTA_SALT,
    TOKQUOTA_SALT,
    mix_hex_threshold,
    split_by_cluster,
)
from beeper_matric_etl_tool_spark.ext.quality import EMAIL_RE
from beeper_matric_etl_tool_spark.operators import windows as xwin
from beeper_matric_etl_tool_spark.plans.registry import register
from beeper_matric_etl_tool_spark.plans.support import results, workdir
from beeper_matric_etl_tool_spark.sources.tables import table, widen_narrow_scan

# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------

# The deterministic train/val holdout rule — a CROSS-ENGINE GRADING
# CONTRACT shared by corpus_composition and decontaminate (membership must
# agree between both queries and both engines, so it is defined once):
# ~1/8 of documents are 'val', selected by the first md5 hex digit of the
# stable id.
HOLDOUT_SQL = (
    "CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) "
    "IN ('0', '1') THEN 'val' ELSE 'train' END"
)


def holdout_split() -> Column:
    """Spark twin of HOLDOUT_SQL."""
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    return F.when(bucket.isin("0", "1"), "val").otherwise("train")


def _mix_threshold_case_sql(rates: dict[str, float]) -> str:
    """The mix sampler's per-source hex threshold as a SQL CASE — derived
    from the SAME constants the Spark plane uses (ext/pipeline.py:
    mix_hex_threshold), so editing a rate can never desync the oracle."""
    whens = " ".join(
        f"WHEN '{s}' THEN '{mix_hex_threshold(r)}'" for s, r in rates.items()
    )
    return f"CASE lang {whens} ELSE '{mix_hex_threshold(0.0)}' END"


def _mix_hash_sql() -> str:
    """SQL twin of ext/pipeline.py:mix_keep's salted hash prefix."""
    return f"substr(md5(CAST(doc_id AS VARCHAR) || '{MIX_SALT}'), 1, 6)"


def _stopword_case_sql() -> str:
    """SQL twin of quality_signal_columns' per-language stopword dispatch:
    CASE lang over the SAME ``ext.text.STOPWORDS`` dict, same branch order
    (non-en inventories in dict order), English fallback for unknown/NULL
    — rendered from the Python constants so the two planes cannot drift."""

    def hits(words: tuple[str, ...]) -> str:
        inv = ",".join(f"'{w}'" for w in words)
        return f"len(list_filter(str_split(text, ' '), x -> x IN ({inv})))"

    branches = " ".join(
        f"WHEN '{code}' THEN {hits(words)}"
        for code, words in xtext.STOPWORDS.items()
        if code != "en"
    )
    return f"CASE lang {branches} ELSE {hits(xtext.STOPWORDS['en'])} END"


def _quality_signal_cte_sql(source: str) -> str:
    """SQL twin of ``quality_signal_columns``: the ``seg``/``s``/``m``
    CTE chain over ``source`` (doc_id, lang, text), ending in ``m`` — one
    row per doc carrying every quality signal (token battery + Gopher
    line/paragraph repetition ppm). Shared by the `quality_filter` oracle
    and the planted-document parity test (tests/test_pipeline.py), so the
    SQL the driver hashes and the SQL the non-degenerate test exercises
    are the same text."""
    lines = r"list_filter(str_split_regex(text, '\n'), x -> trim(x) <> '')"
    paras = r"list_filter(str_split_regex(text, '\n{2,}'), x -> trim(x) <> '')"
    # every 2-gram WITH multiplicity, sorted — max equal-run length =
    # max multiplicity (order-independent: only equality matters)
    g2s = (
        "list_sort(list_transform("
        "generate_series(1, greatest(len(str_split(text, ' ')) - 1, 1)), "
        "i -> array_to_string(list_slice(str_split(text, ' '), i, i + 1), ' ')))"
    )
    return f"""seg AS (
            SELECT *,
                   {lines} AS seg_lines,
                   {paras} AS seg_paras,
                   {g2s} AS g2s
            FROM {source}
        ),
        s AS (
            SELECT doc_id, lang, text,
                   len(str_split(text, ' ')) AS n_tokens,
                   len(list_distinct(str_split(text, ' '))) AS n_uniq,
                   greatest(len(str_split(text, ' ')) - 2, 1) AS total_3g,
                   len(list_distinct(list_transform(
                       generate_series(1, greatest(len(str_split(text, ' ')) - 2, 1)),
                       i -> array_to_string(list_slice(str_split(text, ' '), i, i + 2), ' ')
                   ))) AS uniq_3g,
                   {_stopword_case_sql()} AS stop_hits,
                   len(text) AS n_chars,
                   len(seg_lines) AS n_lines,
                   len(list_distinct(seg_lines)) AS n_uniq_lines,
                   CAST(coalesce(list_sum(list_transform(seg_lines, x -> len(x))), 0) AS BIGINT) AS line_chars,
                   CAST(coalesce(list_sum(list_transform(list_distinct(seg_lines), x -> len(x))), 0) AS BIGINT) AS uniq_line_chars,
                   len(seg_paras) AS n_paras,
                   len(list_distinct(seg_paras)) AS n_uniq_paras,
                   CAST(coalesce(list_sum(list_transform(seg_paras, x -> len(x))), 0) AS BIGINT) AS para_chars,
                   CAST(coalesce(list_sum(list_transform(list_distinct(seg_paras), x -> len(x))), 0) AS BIGINT) AS uniq_para_chars,
                   len(g2s) AS n_g2,
                   list_filter(generate_series(1, greatest(len(g2s), 1)),
                               i -> i = 1 OR g2s[i] <> g2s[i-1]) AS g2bpos,
                   len(regexp_extract_all(text, '{xquality.SYMBOL_RE}'))
                       AS n_symbols,
                   len(list_filter(seg_lines,
                       x -> regexp_matches(x, '{xquality.BULLET_LINE_RE}')))
                       AS n_bullet_lines,
                   len(list_filter(seg_lines,
                       x -> regexp_matches(x, '{xquality.ELLIPSIS_LINE_RE}')))
                       AS n_ellipsis_lines,
                   len(list_filter(str_split(text, ' '),
                       x -> regexp_matches(x, '{xquality.ALPHA_WORD_RE}')))
                       AS n_alpha_words
            FROM seg
        ),
        m AS (
            SELECT doc_id, lang, text, n_tokens, stop_hits,
                   (1000000 * n_uniq) // n_tokens AS ttr_ppm,
                   (1000000 * (total_3g - uniq_3g)) // total_3g AS dup3_ppm,
                   (100 * (n_chars - (n_tokens - 1))) // n_tokens AS mean_len_x100,
                   (1000000 * (n_lines - n_uniq_lines)) // greatest(n_lines, 1) AS dup_line_ppm,
                   (1000000 * (line_chars - uniq_line_chars)) // greatest(line_chars, 1) AS dup_line_char_ppm,
                   (1000000 * (n_paras - n_uniq_paras)) // greatest(n_paras, 1) AS dup_para_ppm,
                   (1000000 * (para_chars - uniq_para_chars)) // greatest(para_chars, 1) AS dup_para_char_ppm,
                   (1000000 * list_max(list_transform(
                        generate_series(1, len(g2bpos)),
                        j -> (CASE WHEN j < len(g2bpos) THEN g2bpos[j+1]
                                   ELSE n_g2 + 1 END) - g2bpos[j])))
                     // greatest(n_tokens - 1, 1) AS top2gram_ppm,
                   (1000000 * n_symbols) // greatest(n_tokens, 1) AS symbol_ppm,
                   (1000000 * n_bullet_lines) // greatest(n_lines, 1)
                       AS bullet_line_ppm,
                   (1000000 * n_ellipsis_lines) // greatest(n_lines, 1)
                       AS ellipsis_line_ppm,
                   (1000000 * n_alpha_words) // greatest(n_tokens, 1)
                       AS alpha_word_ppm
            FROM s
        )"""


def _quality_verdict_cte_sql() -> str:
    """SQL twin of ``quality_verdict_columns``: the ``v`` CTE over ``m``
    (per-rule verdicts + composite keep). Every threshold interpolates
    from QUALITY_BOUNDS — the single-source convention
    (_quota_case_sql / _epoch_copies_sql) — so editing a bound can never
    desync the two planes."""
    from beeper_matric_etl_tool_spark.ext.quality import QUALITY_BOUNDS as qb

    rules = {
        "len_ok": f"(n_tokens BETWEEN {qb['min_tokens']} AND {qb['max_tokens']})",
        "ttr_ok": f"(ttr_ppm >= {qb['min_ttr_ppm']})",
        "rep_ok": f"(dup3_ppm <= {qb['max_dup3_ppm']})",
        "stop_ok": f"(stop_hits >= {qb['min_stop_hits']})",
        "avglen_ok": (
            f"(mean_len_x100 BETWEEN {qb['min_mean_len_x100']}"
            f" AND {qb['max_mean_len_x100']})"
        ),
        "rep_line_ok": (
            f"(dup_line_ppm <= {qb['max_dup_line_ppm']}"
            f" AND dup_line_char_ppm <= {qb['max_dup_line_char_ppm']})"
        ),
        "rep_para_ok": (
            f"(dup_para_ppm <= {qb['max_dup_para_ppm']}"
            f" AND dup_para_char_ppm <= {qb['max_dup_para_char_ppm']})"
        ),
        "top2_ok": f"(top2gram_ppm <= {qb['max_top2gram_ppm']})",
        "symbol_ok": f"(symbol_ppm <= {qb['max_symbol_ppm']})",
        "bullet_ok": f"(bullet_line_ppm <= {qb['max_bullet_line_ppm']})",
        "ellipsis_ok": f"(ellipsis_line_ppm <= {qb['max_ellipsis_line_ppm']})",
        "alpha_ok": f"(alpha_word_ppm >= {qb['min_alpha_word_ppm']})",
    }
    verdicts = ",\n                   ".join(
        f"{expr} AS {name}" for name, expr in rules.items()
    )
    keep = " AND ".join(rules.values())
    return f"""v AS (
            SELECT *,
                   {verdicts},
                   ({keep}) AS keep
            FROM m
        )"""


# the engine's minhash defaults — imported from THE single source
# (ext/dedup.py, where they are also the function defaults), so an
# engine-side default change re-derives every oracle literal the builder
# below emits instead of silently desyncing the two planes
#: doc_profile's boilerplate leg: planted footer paragraphs + the
#: document-frequency floor — one definition feeding BOTH planes (the
#: Spark query concatenates with real newlines; the oracle renders the
#: same literals behind chr(10)||chr(10))
BOILER_FOOTER_COMMON = (
    "copyright footer all rights reserved contact the site team for details"
)
BOILER_FOOTER_RARE = (
    "rare footer shared by too few documents to cross the frequency floor"
)
BOILER_MIN_DOCS = 10

#: doc_profile's spans leg (kind='spans'): planted duplicate SPANS + the
#: occurrence-count floor of ext/text.py:remove_duplicate_spans — again
#: one definition feeding both planes. COMMON rides every 4th doc
#: (cross-doc hot); WITHIN is pasted twice into ONE doc (hot by
#: occurrence count — the case a distinct-doc floor cannot see); ONCE
#: appears in a single doc, once (the in-window negative case).
SPAN_K = 8
SPAN_COMMON = "subscribe to our newsletter for weekly updates and offers today"
SPAN_WITHIN = "click here to accept cookies and continue browsing this site"
SPAN_ONCE = "this sentence occurs exactly once anywhere in the whole corpus"
SPAN_WITHIN_DOC = 42
SPAN_ONCE_DOC = 77

#: the softdedup leg's planted duplicate group: every 5th doc's text is
#: replaced by this template, so ~n/5 docs share one content fingerprint
#: (dup_count = the group size, weight_ppm = 1e6 DIV it) while the rest
#: keep their (unique) raw text — both weight branches exercised at
#: every SF, one definition feeding both planes
SOFTDEDUP_TEMPLATE = (
    "thank you for your purchase your order has shipped and will arrive "
    "within five business days please keep this message for your records"
)

#: doc_profile's attribution leg (kind='attrib', r13): a passage CUT
#: from a corpus document, attributed back through the PERSISTED
#: passage index (`ext/passage_index.py`) — probe 9001 is tokens
#: [ATTRIB_START, ATTRIB_START+ATTRIB_LEN) of doc ATTRIB_SRC_DOC
#: verbatim, probe 9002 the same cut with ONE mid-passage token edited
#: (drops exactly the ≤ k windows covering it — linear degradation,
#: offset persists). The corpus side is hop-thinned (ATTRIB_HOP), so
#: the oracle replays the hop arithmetic too. Constants sized for the
#: smallest testdata documents (doc 7 has ≥ 44 tokens at every SF).
ATTRIB_SRC_DOC = 7
ATTRIB_START = 3      # 1-based token start of the cut in the source
ATTRIB_LEN = 32
ATTRIB_K = 8
ATTRIB_HOP = 3
ATTRIB_EDIT_POS = 16  # 1-based position of the edit INSIDE the probe
ATTRIB_EDIT_TOKEN = "xqzedit"
ATTRIB_PROBE_VERBATIM = 9001
ATTRIB_PROBE_EDITED = 9002
ATTRIB_MIN_MATCHES = 2

MINHASH_NUM_HASHES = xdedup.MINHASH_NUM_HASHES
MINHASH_BAND_WIDTH = xdedup.MINHASH_NUM_HASHES // xdedup.MINHASH_BANDS


def _minhash_band_cte(src: str, prefix: str) -> str:
    """Two CTEs — ``<prefix>sh`` (doc_id, s: distinct 3-shingles) and
    ``<prefix>bnd`` (doc_id, band_id, band_hash) — over ``src``(doc_id,
    text): the SQL twin of the portable md5 minhash family
    (ext/dedup.py: minhash_signatures(portable=True) → lsh_band_rows),
    defined ONCE so the three oracles that replay LSH banding
    (dedup_graph's two incremental sides and quality_filter's funnel)
    cannot drift from each other or from the engine defaults.
    (near_dup_pairs' oracle predates this builder and additionally
    interleaves the simhash funnel — its literals are pinned by its own
    hash check.) Candidate joins compose on the caller side:
    ``a.band_id = b.band_id AND a.band_hash = b.band_hash``."""
    w = MINHASH_BAND_WIDTH
    n_bands = MINHASH_NUM_HASHES // w
    return f"""{prefix}sh AS (
            SELECT doc_id, list_distinct(list_transform(
                generate_series(1, greatest(len(str_split(text,' ')) - 2, 1)),
                i -> array_to_string(list_slice(str_split(text,' '), i, i + 2), ' ')
            )) AS s FROM {src}
        ),
        {prefix}bnd AS (
            SELECT doc_id, b AS band_id,
                   md5(array_to_string(list_slice(sg, b*{w} + 1, b*{w} + {w}), ','))
                       AS band_hash
            FROM (SELECT doc_id, list_transform(generate_series(0, {MINHASH_NUM_HASHES - 1}),
                      i -> list_min(list_transform(
                              s, x -> md5(CAST(i AS VARCHAR) || ':' || x)))) AS sg
                  FROM {prefix}sh) CROSS JOIN range(0, {n_bands}) r(b)
        )"""


@register(
    "text_stats",
    headline=True,
    tags=("ext-text",),
    oracle="""
        SELECT doc_id, n_tokens, n_uniq,
               (1000000 * n_uniq) // n_tokens AS ttr_ppm,
               wordpieces, stop_hits,
               (1000000 * stop_hits) // n_tokens AS stop_ratio_ppm,
               4000 * least(n_tokens, 100)
                 + (300000 * n_uniq) // n_tokens
                 + (300000 * stop_hits) // n_tokens AS quality_ppm
        FROM (
            SELECT doc_id,
                   len(str_split(text, ' ')) AS n_tokens,
                   len(list_distinct(str_split(text, ' '))) AS n_uniq,
                   len(regexp_extract_all(text, '[a-z]+')) AS wordpieces,
                   len(list_filter(str_split(text, ' '),
                       x -> x IN ('the','and','of','to','a','in','is','that')))
                     AS stop_hits
            FROM documents
        )
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts, lexical diversity, BPE-ish wordpiece count,
    stopword ratio, and a composite quality score — the standard quality-
    filtering feature set for a pretraining corpus. All ratios are exact
    integer ppm: float round() is not reproducible across engines at
    decimal boundaries (found the hard way at sf0.1 — see ext/text.py
    scaled_ratio)."""
    docs = table(spark, sf_dir, "documents")
    toks = xtext.tokens("text")
    n_tokens = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    stop_hits = xtext.stopword_hits(toks, xtext.STOPWORDS["en"])
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_uniq.alias("n_uniq"),
        xtext.scaled_ratio(n_uniq, n_tokens).alias("ttr_ppm"),
        xtext.wordpiece_count("text").alias("wordpieces"),
        stop_hits.alias("stop_hits"),
        xtext.scaled_ratio(stop_hits, n_tokens).alias("stop_ratio_ppm"),
        xtext.quality_ppm(n_tokens, n_uniq, stop_hits).alias("quality_ppm"),
    )


#: per-source keep rates for the mixing sampler. The keep decision itself
#: lives in ext/pipeline.py:mix_keep — a lexicographic compare of the
#: first 6 hex chars of a SALTED md5(doc_id) against floor(rate·16⁶) in
#: hex (rate ≥ 1.0 → an above-alphabet 'zzzzzz' sentinel so the strict
#: compare keeps every row). The salt decorrelates sampling from the
#: UNSALTED-md5 train/val holdout: without it a 10% keep-rate would
#: select exactly the '0'/'1' prefix range, i.e. 100% of the kept corpus
#: would be holdout-val (see ext/pipeline.py:MIX_SALT).
MIX_RATES: dict[str, float] = {
    "en": 1.00,
    "es": 0.50,
    "fr": 0.25,
    "de": 0.10,
}

#: per-source EPOCH rates for the upsampling half of source mixing
#: (ext/pipeline.py:epoch_copies): floor(rate) guaranteed copies + a
#: hash-fraction extra. Chosen to cover every regime — integer+fraction
#: (en 2.25), exactly one (es), sub-1 downsample (fr 0.5), pure integer
#: (de 3.0); zh is deliberately ABSENT so the unknown-source → 0 copies
#: rule shows up as a zeroed audit row, not a silent keep.
EPOCH_RATES: dict[str, float] = {
    "en": 2.25,
    "es": 1.00,
    "fr": 0.50,
    "de": 3.00,
}


#: per-language eval-carve quotas for the dim='quota' leg — chosen to
#: exercise every branch at the oracle tier: en/es/fr below stratum size
#: (a real carve), de ABOVE it (quota clamps to the whole stratum), zh
#: absent (no quota entry → 0 kept, a zeroed audit row).
QUOTA_N: dict[str, int] = {
    "en": 100,
    "es": 40,
    "fr": 25,
    "de": 10_000,
}


def _quota_case_sql() -> str:
    """SQL CASE twin of sample_quota's quota map, interpolated from
    QUOTA_N so a quota edit re-derives both planes."""
    arms = " ".join(f"WHEN '{s}' THEN {int(q)}" for s, q in QUOTA_N.items())
    return f"CASE lang {arms} ELSE 0 END"


#: per-language TOKEN budgets for the dim='tokquota' leg — branch
#: coverage mirrors QUOTA_N: en/es fill mid-stratum (a real carve), fr's
#: budget is below ONE document's tokens (the crossing-doc rule keeps
#: exactly the first hash-ordered doc), de's covers the whole stratum
#: (keeps everything), zh absent (budget 0, zeroed audit row).
TOKQUOTA_N: dict[str, int] = {
    "en": 1_000,
    "es": 600,
    "fr": 10,
    "de": 10_000_000,
}


def _tokquota_case_sql() -> str:
    """SQL CASE twin of sample_token_quota's budget map, interpolated
    from TOKQUOTA_N so a budget edit re-derives both planes."""
    arms = " ".join(f"WHEN '{s}' THEN {int(b)}" for s, b in TOKQUOTA_N.items())
    return f"CASE lang {arms} ELSE 0 END"


#: dim='eshuf' parameters — epoch 1 (a non-zero epoch pins that the epoch
#: number actually enters the hash) sharded 8 ways (single-digit shards,
#: so the zero-pad width is 1 and the SQL twin needs no lpad).
ESHUF_EPOCH = 1
ESHUF_SHARDS = 8

#: the percentile-gate dim's keep fraction (dim='pct') — mid-range so
#: every language both keeps and drops rows at every SF; the Spark leg
#: runs sample_top_fraction in its SPREAD (distributed-rank) form, so a
#: green row is driver evidence for the scale path, replayed by the
#: oracle's single-window SQL.
PCT_KEEP_PPM = 750_000

#: score_buckets dim cuts (dim='bucket') — the operator's CCNet
#: head/middle/tail defaults, interpolated into the oracle.
BUCKET_CUTS_PPM = (333_333, 666_666)


def _epoch_copies_sql() -> str:
    """SQL twin of ext/pipeline.py:epoch_copies over (doc_id, lang):
    integer base CASE + fractional-threshold hash CASE, every literal
    interpolated from EPOCH_RATES / mix_hex_threshold / EPOCH_SALT so a
    rate edit re-derives both planes."""
    import math

    base = " ".join(
        f"WHEN '{s}' THEN {int(math.floor(r))}" for s, r in EPOCH_RATES.items()
    )
    frac = " ".join(
        f"WHEN '{s}' THEN '{mix_hex_threshold(r - math.floor(r))}'"
        for s, r in EPOCH_RATES.items()
    )
    h = f"substr(md5(CAST(doc_id AS VARCHAR) || '{EPOCH_SALT}'), 1, 6)"
    return (
        f"(CASE lang {base} ELSE 0 END + CASE WHEN {h} < "
        f"CASE lang {frac} ELSE '000000' END THEN 1 ELSE 0 END)"
    )


@register(
    "corpus_composition",
    tags=("ext-text", "ext-sample"),
    oracle=f"""
        WITH d AS (
            SELECT lang, n_chars, len(str_split(text, ' ')) AS n_toks,
                   {HOLDOUT_SQL} AS split,
                   {_mix_hash_sql()} AS h,
                   {_mix_threshold_case_sql(MIX_RATES)} AS thresh,
                   {_epoch_copies_sql()} AS n_cop,
                   doc_id
            FROM documents
        ),
        qranked AS (
            SELECT lang, n_toks,
                   row_number() OVER (
                       PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR) || '{QUOTA_SALT}'),
                                doc_id) AS rk
            FROM d
        ),
        qkept AS (
            SELECT lang, count(*) AS q_kept,
                   CAST(sum(n_toks) AS BIGINT) AS q_toks
            FROM qranked WHERE rk <= {_quota_case_sql()}
            GROUP BY lang
        ),
        tkranked AS (
            SELECT lang, n_toks,
                   sum(n_toks) OVER (
                       PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR) || '{TOKQUOTA_SALT}'),
                                doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS cum_before
            FROM d
        ),
        tkept AS (
            SELECT lang, count(*) AS t_kept,
                   CAST(sum(n_toks) AS BIGINT) AS t_toks
            FROM tkranked
            WHERE coalesce(cum_before, 0) < {_tokquota_case_sql()}
            GROUP BY lang
        ),
        pranked AS (
            SELECT lang, n_toks,
                   row_number() OVER (
                       PARTITION BY lang ORDER BY n_toks, doc_id) AS rk,
                   count(*) OVER (PARTITION BY lang) AS n
            FROM d
        ),
        pkept AS (
            SELECT lang, count(*) AS p_kept,
                   CAST(sum(n_toks) AS BIGINT) AS p_toks
            FROM pranked WHERE rk <= (n * {PCT_KEEP_PPM}) // 1000000
            GROUP BY lang
        ),
        blabeled AS (
            SELECT lang, n_toks, doc_id,
                   CASE WHEN (rk * 1000000) // n <= {BUCKET_CUTS_PPM[0]}
                            THEN 'head'
                        WHEN (rk * 1000000) // n <= {BUCKET_CUTS_PPM[1]}
                            THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM (
                SELECT lang, n_toks, doc_id,
                       row_number() OVER (
                           PARTITION BY lang ORDER BY n_toks, doc_id) AS rk,
                       count(*) OVER (PARTITION BY lang) AS n
                FROM d
            )
        ),
        eshr AS (
            SELECT doc_id, n_toks, ekey,
                   CAST(CAST(('0x' || substr(ekey, 1, 6)) AS BIGINT)
                        * {ESHUF_SHARDS} // 16777216 AS VARCHAR) AS shard
            FROM (
                SELECT doc_id, n_toks,
                       md5(CAST(doc_id AS VARCHAR)
                           || '{EPOCH_SHUFFLE_SALT}{ESHUF_EPOCH}') AS ekey
                FROM d
            )
        ),
        eshleg AS (
            SELECT shard, count(*) AS n_docs,
                   CAST(sum(n_toks) AS BIGINT) AS toks,
                   CAST(sum(rk * doc_id) AS BIGINT) AS ordsum
            FROM (
                SELECT shard, n_toks, doc_id,
                       row_number() OVER (
                           PARTITION BY shard ORDER BY ekey, doc_id) AS rk
                FROM eshr
            ) GROUP BY shard
        ),
        {_quality_signal_cte_sql("documents")},
        {_quality_verdict_cte_sql()},
        aucg AS (
            SELECT lang, ttr_ppm AS sc,
                   sum(CASE WHEN keep THEN 1 ELSE 0 END) AS pos,
                   count(*) - sum(CASE WHEN keep THEN 1 ELSE 0 END) AS neg
            FROM v GROUP BY lang, ttr_ppm
        ),
        aucc AS (
            SELECT lang, pos, neg,
                   coalesce(sum(neg) OVER (
                       PARTITION BY lang ORDER BY sc
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS negb
            FROM aucg
        ),
        aucleg AS (
            SELECT lang, CAST(sum(pos) AS BIGINT) AS n_pos,
                   CAST(sum(neg) AS BIGINT) AS n_neg,
                   CAST(sum(2 * pos * negb + pos * neg) AS BIGINT) AS u2
            FROM aucc GROUP BY lang
        ),
        calib AS (
            SELECT lang,
                   least(CAST(floor((ttr_ppm / 1000000.0) * 10.0) AS BIGINT),
                         9) AS bin,
                   count(*) AS n,
                   sum(CASE WHEN keep THEN 1 ELSE 0 END) AS n_pos,
                   CAST(sum(CAST(floor(1000000.0 * (ttr_ppm / 1000000.0))
                                 AS BIGINT)) AS BIGINT) AS sum_prob_ppm
            FROM v GROUP BY lang, bin
        ),
        thrg AS (
            SELECT lang, ttr_ppm AS sc,
                   sum(CASE WHEN keep THEN 1 ELSE 0 END) AS pos,
                   count(*) - sum(CASE WHEN keep THEN 1 ELSE 0 END) AS neg
            FROM v GROUP BY lang, ttr_ppm
        ),
        thrc AS (
            SELECT lang, sc,
                   sum(pos) OVER (PARTITION BY lang ORDER BY sc DESC
                                  ROWS UNBOUNDED PRECEDING) AS tp,
                   sum(neg) OVER (PARTITION BY lang ORDER BY sc DESC
                                  ROWS UNBOUNDED PRECEDING) AS fp,
                   sum(pos) OVER (PARTITION BY lang) AS p,
                   sum(neg) OVER (PARTITION BY lang) AS nn
            FROM thrg
        ),
        thrbest AS (
            SELECT lang, sc, tp, p, nn, f1_ppm FROM (
                SELECT lang, sc, tp, p, nn,
                       (2000000 * tp) // (tp + fp + p) AS f1_ppm,
                       row_number() OVER (
                           PARTITION BY lang
                           ORDER BY (2000000 * tp) // (tp + fp + p) DESC,
                                    sc DESC) AS rn
                FROM thrc
            ) WHERE rn = 1
        )
        SELECT 'lang' AS dim, lang AS key, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(sum(n_toks) AS BIGINT) AS total_tokens,
               CAST(NULL AS BIGINT) AS n_kept, CAST(NULL AS BIGINT) AS kept_ppm
        FROM d GROUP BY lang
        UNION ALL
        SELECT 'split' AS dim, split AS key, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(sum(n_toks) AS BIGINT) AS total_tokens,
               CAST(NULL AS BIGINT) AS n_kept, CAST(NULL AS BIGINT) AS kept_ppm
        FROM d GROUP BY split
        UNION ALL
        SELECT 'mix' AS dim, lang AS key, count(*) AS n_docs,
               CAST(NULL AS BIGINT) AS total_chars,
               CAST(NULL AS BIGINT) AS total_tokens,
               count(*) FILTER (WHERE h < thresh) AS n_kept,
               CAST((1000000 * count(*) FILTER (WHERE h < thresh)) // count(*)
                    AS BIGINT) AS kept_ppm
        FROM d GROUP BY lang
        UNION ALL
        SELECT 'epoch' AS dim, lang AS key, count(*) AS n_docs,
               CAST(NULL AS BIGINT) AS total_chars,
               CAST(sum(n_toks * n_cop) AS BIGINT) AS total_tokens,
               CAST(sum(n_cop) AS BIGINT) AS n_kept,
               CAST((1000000 * sum(n_cop)) // count(*) AS BIGINT) AS kept_ppm
        FROM d GROUP BY lang
        UNION ALL
        SELECT 'quota' AS dim, d.lang AS key, count(*) AS n_docs,
               CAST(NULL AS BIGINT) AS total_chars,
               CAST(coalesce(any_value(q.q_toks), 0) AS BIGINT) AS total_tokens,
               CAST(coalesce(any_value(q.q_kept), 0) AS BIGINT) AS n_kept,
               CAST((1000000 * coalesce(any_value(q.q_kept), 0)) // count(*)
                    AS BIGINT) AS kept_ppm
        FROM d LEFT JOIN qkept q ON d.lang = q.lang GROUP BY d.lang
        UNION ALL
        SELECT 'tokquota' AS dim, d.lang AS key, count(*) AS n_docs,
               CAST(NULL AS BIGINT) AS total_chars,
               CAST(coalesce(any_value(t.t_toks), 0) AS BIGINT) AS total_tokens,
               CAST(coalesce(any_value(t.t_kept), 0) AS BIGINT) AS n_kept,
               CAST((1000000 * coalesce(any_value(t.t_kept), 0)) // count(*)
                    AS BIGINT) AS kept_ppm
        FROM d LEFT JOIN tkept t ON d.lang = t.lang GROUP BY d.lang
        UNION ALL
        SELECT 'eshuf' AS dim, shard AS key, n_docs,
               CAST(NULL AS BIGINT) AS total_chars,
               toks AS total_tokens,
               ordsum AS n_kept,
               CAST(NULL AS BIGINT) AS kept_ppm
        FROM eshleg
        UNION ALL
        SELECT 'pct' AS dim, d.lang AS key, count(*) AS n_docs,
               CAST(NULL AS BIGINT) AS total_chars,
               CAST(coalesce(any_value(p.p_toks), 0) AS BIGINT) AS total_tokens,
               CAST(coalesce(any_value(p.p_kept), 0) AS BIGINT) AS n_kept,
               CAST((1000000 * coalesce(any_value(p.p_kept), 0)) // count(*)
                    AS BIGINT) AS kept_ppm
        FROM d LEFT JOIN pkept p ON d.lang = p.lang GROUP BY d.lang
        UNION ALL
        SELECT 'bucket' AS dim, concat_ws('/', lang, bucket) AS key,
               count(*) AS n_docs,
               CAST(NULL AS BIGINT) AS total_chars,
               CAST(sum(n_toks) AS BIGINT) AS total_tokens,
               CAST(sum(doc_id) AS BIGINT) AS n_kept,
               CAST(NULL AS BIGINT) AS kept_ppm
        FROM blabeled GROUP BY lang, bucket
        UNION ALL
        SELECT 'auc' AS dim, lang AS key, n_pos + n_neg AS n_docs,
               CAST(NULL AS BIGINT) AS total_chars,
               u2 AS total_tokens,
               n_pos AS n_kept,
               CASE WHEN n_pos > 0 AND n_neg > 0
                    THEN CAST(floor(1000000.0 * u2
                              / (2.0 * n_pos * n_neg)) AS BIGINT)
                    ELSE NULL END AS kept_ppm
        FROM aucleg
        UNION ALL
        SELECT 'calib' AS dim, lang || '/' || CAST(bin AS VARCHAR) AS key,
               n AS n_docs,
               CAST(NULL AS BIGINT) AS total_chars,
               sum_prob_ppm AS total_tokens,
               CAST(n_pos AS BIGINT) AS n_kept,
               CAST((1000000 * n_pos) // n AS BIGINT) AS kept_ppm
        FROM calib
        UNION ALL
        SELECT 'thr' AS dim, lang AS key, CAST(p + nn AS BIGINT) AS n_docs,
               CAST(NULL AS BIGINT) AS total_chars,
               CAST(sc AS BIGINT) AS total_tokens,
               CAST(tp AS BIGINT) AS n_kept,
               CAST(f1_ppm AS BIGINT) AS kept_ppm
        FROM thrbest
        UNION ALL
        SELECT 'report' AS dim, lang AS key, count(*) AS n_docs,
               CAST(sum(length(text)) AS BIGINT) AS total_chars,
               CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS total_tokens,
               CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS n_kept,
               CAST(NULL AS BIGINT) AS kept_ppm
        FROM documents GROUP BY lang
        UNION ALL
        SELECT 'report' AS dim, '_corpus' AS key, count(*) AS n_docs,
               CAST(sum(length(text)) AS BIGINT) AS total_chars,
               CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS total_tokens,
               CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS n_kept,
               CAST(NULL AS BIGINT) AS kept_ppm
        FROM documents
    """,
)
def corpus_composition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition + mixing audit along three dimensions in one
    relation over one documents scan:

    dim='lang' / dim='split' — composition per language and per
    deterministic content-hash train/val holdout (~1/8 val). The hash
    split is the ONLY correct way to split at scale — row_number/rand
    splits reshuffle when data moves or retries; a hash of the stable id
    never does, and portable md5 means any engine reproduces the exact
    same membership. Exact integer totals only (means are a client-side
    division away; cross-engine float avg cannot hash-match).

    dim='mix' — the deterministic source-mixing sampler every pretraining
    corpus runs (upsample scarce sources, downsample dominant ones): each
    language keeps a fixed fraction of documents, selected by a
    content-stable hash threshold, NOT an engine RNG — the same doc is
    kept or dropped on every engine, every retry, every re-run (resumable
    sampling). The keep test is a lexicographic compare of the first 6
    md5 hex digits against floor(rate·16⁶) in hex (rate ≥ 1.0 → an
    above-alphabet sentinel that keeps all rows): exact, portable, zero
    float arithmetic. The hash is SALTED (':mix') so the sampling decision
    is independent of the unsalted-hash holdout split — the kernel and
    rationale live in ext/pipeline.py:mix_keep, which this query calls
    directly (one implementation, no drift). n_kept/kept_ppm are the
    per-source audit counts; the kept rows themselves are the same
    relation minus the aggregate.

    dim='epoch' — the UPSAMPLING half of source mixing
    (ext/pipeline.py:mix_epochs): rates above 1 replicate documents into
    training copies — floor(rate) guaranteed plus a deterministic
    hash-fraction extra under its own salt (EPOCH_SALT: a third
    independent decision, see the MIX_SALT rationale). The audit is
    aggregated from the EXPLODED one-row-per-copy relation, so the hash
    pins the fan-out cardinalities (n_kept = training examples) and the
    effective post-upsample token mass (total_tokens), per source;
    kept_ppm is the realized rate in ppm (en 2.25 → ~2_250_000). zh has
    no rate on purpose: unknown source → 0 copies, visible as a zeroed
    row.

    dim='quota' — the EXACT-count stratified carve
    (ext/pipeline.py:sample_quota): per-language fixed-size eval draws
    ranked by the ':quota'-salted hash (fourth independent decision per
    the salt convention). The audit aggregates the SAMPLED subset back
    per stratum — n_kept pins the guaranteed count semantics
    (min(quota, |stratum|): de's over-sized quota clamps, zh's missing
    entry zeroes) and total_tokens pins the sampled MEMBERSHIP, not just
    its cardinality — two different 100-doc samples hash-differ.

    dim='tokquota' — the TOKEN-budget carve
    (ext/pipeline.py:sample_token_quota; its own ':tokq' salt, the sixth
    independent decision): keeps each language's docs in hash order
    while the exclusive running token total is under the budget — the
    unit a pretraining mixture is specified in ("12k tokens of en"), so
    the audit's total_tokens lands in [budget, budget + one doc). fr's
    budget (10) is below a single document, pinning the crossing-doc
    rule (exactly 1 doc kept); de's covers the stratum (keeps all); zh
    absent (zeroed row).

    dim='eshuf' — the deterministic per-epoch training shuffle
    (ext/pipeline.py:shuffle_epoch; ':eshuf' salt, the seventh
    independent decision): epoch 1's global permutation sharded 8 ways
    by fixed hash ranges. n_docs/total_tokens pin each shard's
    MEMBERSHIP; n_kept carries the ORDER checksum Σ rank·doc_id under
    the shard-local (ekey, id) sort — a re-run, a different cluster, or
    a different engine must reproduce the exact permutation to match.
    EPOCH_SHUFFLE_SALT imported so a salt edit re-derives both planes.

    dim='pct' — the exact percentile gate (ext/pipeline.py:
    sample_top_fraction) in its SPREAD form: distributed rank via
    range-partitioning + per-partition offsets, boundary-row broadcast
    gate — the 100 TB path, whose kept set the oracle replays with the
    textbook single-window SQL. n_kept pins the per-language exact count
    floor(n·keep_ppm/1e6); total_tokens pins the kept MEMBERSHIP (the
    low-token prefix under (n_toks, id) order), not just its size.

    dim='bucket' — CCNet head/middle/tail percentile bucketing
    (ext/pipeline.py:score_buckets, spread form): one row per
    (language, bucket) with count, token mass and an id-sum membership
    checksum — the oracle's window/CASE replay must agree on every
    label for every hash to land.

    dim='auc' — exact tie-aware ROC AUC (`ext/classifier.py:
    evaluate_auc`, Mann-Whitney U from score-group counts, SPREAD
    prefix-sum form — the 100 TB path) of the ttr_ppm quality signal
    against the heuristic gate's own keep verdict, per language:
    total_tokens carries u2 = 2·U (the exact long the AUC derives
    from), n_kept = n_pos, kept_ppm = auc_ppm — the oracle recomputes
    the whole rank-sum independently, so a green row pins the
    evaluation operator's arithmetic end to end.

    dim='calib' — calibration_bins (`ext/classifier.py`): reliability
    counts per (language, probability bin) over the same pseudo-prob
    (ttr_ppm/1e6) and keep label — key = 'lang/bin', total_tokens =
    Σ floor(1e6·prob) (the diagram's diagonal as an exact long),
    n_kept/kept_ppm the observed positives; the oracle rebuilds the
    binning and the checksum independently.

    dim='thr' — threshold selection (`ext/classifier.py:
    select_threshold`, SPREAD prefix form — the 100 TB path): the
    F1-argmax deployment cut over the same (language, ttr_ppm, keep)
    relation the AUC/calibration legs evaluate, completing the
    classifier deploy story (train → rank → calibrate → CUT). key =
    language, total_tokens = the chosen threshold (the ttr_ppm score
    value; keep iff score >= it), n_kept = tp at that cut, kept_ppm =
    its exact-integer f1_ppm; the oracle recomputes the whole
    descending-cumulative sweep AND the (F1 desc, threshold desc)
    argmax independently, so a green row pins the sweep arithmetic and
    the tie-break end to end.

    dim='report' — the one-rollup corpus data card (ext/pipeline.py:
    corpus_report): per-language + '_corpus' doc/char/token totals with
    n_kept = exact-duplicate docs (n_docs − distinct content
    fingerprints, recomputed globally for the grand row — a fingerprint
    duplicated ACROSS languages is a global dup no per-language count
    sees). The Spark rows come from the operator's own rollup output,
    so a green row oracles the data card's arithmetic end to end; the
    rule-failure/PII/histogram tiers of the card stay pytest-pinned
    (their per-document inputs are already driver-hashed via
    quality_filter's signal leg)."""
    from beeper_matric_etl_tool_spark.ext.pipeline import (
        corpus_report,
        mix_epochs,
        mix_keep,
        sample_quota,
        sample_token_quota,
        sample_top_fraction,
        score_buckets,
        shuffle_epoch,
    )

    docs = table(spark, sf_dir, "documents")
    # ONE tokenize/hash pass feeds every sampling/composition leg: the
    # query's nine legs each consumed their own documents scan (+ the
    # spread rank paths re-deriving it), so the 6-column pruned core is
    # localCheckpointed once (multi-consumer precedent: knn_multiprobe;
    # measured −40% query wall at sf0.01 together with the labeled
    # checkpoint below). Pure column algebra — no window in the plan.
    core = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        xtext.token_count("text").alias("__n_toks"),
        holdout_split().alias("split"),
        mix_keep("doc_id", "lang", MIX_RATES).alias("__keep"),
        # lazy (r13): the first consuming action materializes the blocks
        # in the same job — no separate construction-time job needed
    ).localCheckpoint(eager=False)
    base = core
    null_long = F.lit(None).cast("long")

    def _grouped(col: str, dim: str) -> DataFrame:
        return base.groupBy(F.col(col).alias("key")).agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("__n_toks").alias("total_tokens"),
        ).select(
            F.lit(dim).alias("dim"), "key", "n_docs", "total_chars", "total_tokens",
            null_long.alias("n_kept"), null_long.alias("kept_ppm"),
        )

    kept = F.sum(F.when(F.col("__keep"), 1).otherwise(0))
    mix = base.groupBy(F.col("lang").alias("key")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        kept.cast("long").alias("n_kept"),
        F.floor((F.lit(1_000_000) * kept) / F.count(F.lit(1))).cast("long").alias("kept_ppm"),
    ).select(
        F.lit("mix").alias("dim"), "key", "n_docs",
        null_long.alias("total_chars"), null_long.alias("total_tokens"),
        "n_kept", "kept_ppm",
    )
    # dim='epoch': the audit is computed from the EXPLODED relation (one
    # row per training copy, ext/pipeline.py:mix_epochs) — the hash pins
    # the fan-out cardinalities and the effective post-upsample token
    # mass, not just the per-doc copy formula. zh has no EPOCH_RATES
    # entry: unknown source → 0 copies, surfacing as a zeroed row via the
    # left join (mix_epochs drops zero-copy docs from its own output).
    exploded = mix_epochs(
        core.select("doc_id", "lang", "__n_toks"),
        EPOCH_RATES,
        source_col="lang",
    )
    eagg = exploded.groupBy(F.col("lang").alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("__e_kept"),
        F.sum("__n_toks").cast("long").alias("__e_tokens"),
    )
    epoch = (
        base.groupBy(F.col("lang").alias("key"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .join(eagg, "key", "left")
        .select(
            F.lit("epoch").alias("dim"),
            "key",
            "n_docs",
            null_long.alias("total_chars"),
            F.coalesce("__e_tokens", F.lit(0)).cast("long").alias("total_tokens"),
            F.coalesce("__e_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.floor(
                (F.lit(1_000_000) * F.coalesce(F.col("__e_kept"), F.lit(0)))
                / F.col("n_docs")
            )
            .cast("long")
            .alias("kept_ppm"),
        )
    )
    sampled = sample_quota(core.select("doc_id", "lang", "__n_toks"), QUOTA_N)
    qagg = sampled.groupBy(F.col("lang").alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("__q_kept"),
        F.sum("__n_toks").cast("long").alias("__q_toks"),
    )
    quota = (
        base.groupBy(F.col("lang").alias("key"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .join(qagg, "key", "left")
        .select(
            F.lit("quota").alias("dim"),
            "key",
            "n_docs",
            null_long.alias("total_chars"),
            F.coalesce("__q_toks", F.lit(0)).cast("long").alias("total_tokens"),
            F.coalesce("__q_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.floor(
                (F.lit(1_000_000) * F.coalesce(F.col("__q_kept"), F.lit(0)))
                / F.col("n_docs")
            )
            .cast("long")
            .alias("kept_ppm"),
        )
    )
    tq = sample_token_quota(
        core.select("doc_id", "lang", "__n_toks"),
        TOKQUOTA_N,
        n_toks_col="__n_toks",
    )
    tqagg = tq.groupBy(F.col("lang").alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("__t_kept"),
        F.sum("__n_toks").cast("long").alias("__t_toks"),
    )
    tokquota = (
        base.groupBy(F.col("lang").alias("key"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .join(tqagg, "key", "left")
        .select(
            F.lit("tokquota").alias("dim"),
            "key",
            "n_docs",
            null_long.alias("total_chars"),
            F.coalesce("__t_toks", F.lit(0)).cast("long").alias("total_tokens"),
            F.coalesce("__t_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.floor(
                (F.lit(1_000_000) * F.coalesce(F.col("__t_kept"), F.lit(0)))
                / F.col("n_docs")
            )
            .cast("long")
            .alias("kept_ppm"),
        )
    )
    from pyspark.sql import Window

    shuffled = shuffle_epoch(
        core.select("doc_id", "__n_toks"),
        epoch=ESHUF_EPOCH,
        n_shards=ESHUF_SHARDS,
    )
    wsh = Window.partitionBy("eshard").orderBy(
        F.col("ekey").asc(), F.col("doc_id").asc()
    )
    eshuf = (
        shuffled.withColumn("__rk", F.row_number().over(wsh))
        .groupBy(F.col("eshard").alias("key"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__n_toks").cast("long").alias("total_tokens"),
            F.sum(F.col("__rk") * F.col("doc_id")).cast("long").alias("n_kept"),
        )
        .select(
            F.lit("eshuf").alias("dim"),
            "key",
            "n_docs",
            null_long.alias("total_chars"),
            "total_tokens",
            "n_kept",
            null_long.alias("kept_ppm"),
        )
    )
    pbase = core.select("doc_id", "lang", "__n_toks")
    pct_kept = sample_top_fraction(
        pbase, "__n_toks", keep_ppm=PCT_KEEP_PPM, strata_col="lang",
        spread=True,
    )
    pagg = pct_kept.groupBy(F.col("lang").alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("__p_kept"),
        F.sum("__n_toks").cast("long").alias("__p_toks"),
    )
    pct = (
        base.groupBy(F.col("lang").alias("key"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .join(pagg, "key", "left")
        .select(
            F.lit("pct").alias("dim"),
            "key",
            "n_docs",
            null_long.alias("total_chars"),
            F.coalesce("__p_toks", F.lit(0)).cast("long").alias("total_tokens"),
            F.coalesce("__p_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.floor(
                (F.lit(1_000_000) * F.coalesce(F.col("__p_kept"), F.lit(0)))
                / F.col("n_docs")
            )
            .cast("long")
            .alias("kept_ppm"),
        )
    )
    bucket = (
        score_buckets(
            pbase, "__n_toks", cuts_ppm=BUCKET_CUTS_PPM,
            strata_col="lang", spread=True,
        )
        .groupBy(F.concat_ws("/", "lang", "score_bucket").alias("key"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__n_toks").cast("long").alias("total_tokens"),
            F.sum("doc_id").cast("long").alias("n_kept"),
        )
        .select(
            F.lit("bucket").alias("dim"),
            "key",
            "n_docs",
            null_long.alias("total_chars"),
            "total_tokens",
            "n_kept",
            null_long.alias("kept_ppm"),
        )
    )
    from beeper_matric_etl_tool_spark.ext.classifier import evaluate_auc
    from beeper_matric_etl_tool_spark.ext.quality import (
        quality_signal_columns,
        quality_verdict_columns,
    )

    sig = quality_signal_columns("text", lang_col="lang")
    # THREE eval legs (auc, calib, thr) consume this battery-derived
    # relation; localCheckpoint the pruned 3-column projection once so
    # the quality-signal battery runs ONE corpus pass instead of three
    # (the knn_multiprobe multi-consumer precedent; the battery is pure
    # column algebra — no window in the plan, outside the documented
    # persist hazard class)
    labeled = docs.select(
        "doc_id", "lang", *(c.alias(n) for n, c in sig.items())
    ).select(
        "lang", "ttr_ppm", quality_verdict_columns()["keep"].alias("__keep")
        # lazy (r13): same one-action materialization as `core` above
    ).localCheckpoint(eager=False)
    aucleg = evaluate_auc(
        labeled, "ttr_ppm", "__keep", strata_col="lang", spread=True
    ).select(
        F.lit("auc").alias("dim"),
        F.col("lang").alias("key"),
        (F.col("n_pos") + F.col("n_neg")).alias("n_docs"),
        null_long.alias("total_chars"),
        F.col("u2").alias("total_tokens"),
        F.col("n_pos").alias("n_kept"),
        F.col("auc_ppm").alias("kept_ppm"),
    )
    # dim='calib': calibration_bins driver-oracled over an exact-integer
    # pseudo-probability (ttr_ppm/1e6 — the same double chain both
    # planes evaluate identically); real classifier probabilities are
    # float-iterative and stay pytest-tier
    from beeper_matric_etl_tool_spark.ext.classifier import calibration_bins

    calibleg = calibration_bins(
        labeled.select(
            "lang",
            (F.col("ttr_ppm") / F.lit(1_000_000.0)).alias("__prob"),
            "__keep",
        ),
        "__prob",
        "__keep",
        n_bins=10,
        strata_col="lang",
    ).select(
        F.lit("calib").alias("dim"),
        F.concat_ws("/", "lang", F.col("bin").cast("string")).alias("key"),
        F.col("n").alias("n_docs"),
        null_long.alias("total_chars"),
        F.col("sum_prob_ppm").alias("total_tokens"),
        F.col("n_pos").alias("n_kept"),
        F.col("pos_ppm").alias("kept_ppm"),
    )
    # dim='thr': the deployment-cut selection over the same labeled
    # relation (third consumer — lazy, one shared scan); spread=True is
    # the scale form the oracle's window SQL replays
    from beeper_matric_etl_tool_spark.ext.classifier import select_threshold

    thrleg = select_threshold(
        labeled, "ttr_ppm", "__keep", strata_col="lang", metric="f1_ppm",
        spread=True,
    ).select(
        F.lit("thr").alias("dim"),
        F.col("lang").alias("key"),
        (F.col("n_pos") + F.col("n_neg")).alias("n_docs"),
        null_long.alias("total_chars"),
        F.col("threshold").cast("long").alias("total_tokens"),
        F.col("tp").alias("n_kept"),
        F.col("f1_ppm").alias("kept_ppm"),
    )
    # dim='report': the data card's own rollup output, reshaped — the
    # operator is eager by contract (it returns driver scalars), so the
    # rows below carry the numbers its one rollup job produced
    rep = corpus_report(docs)
    report = spark.createDataFrame(
        [
            (
                "report",
                k if k is not None else "<null>",
                int(v["n_docs"]),
                int(v["total_chars"]),
                int(v["total_tokens"]),
                int(v["exact_dup_docs"]),
                None,
            )
            for k, v in rep.items()
        ],
        "dim string, key string, n_docs long, total_chars long, "
        "total_tokens long, n_kept long, kept_ppm long",
    )
    return (
        _grouped("lang", "lang")
        .unionByName(_grouped("split", "split"))
        .unionByName(mix)
        .unionByName(epoch)
        .unionByName(quota)
        .unionByName(tokquota)
        .unionByName(eshuf)
        .unionByName(pct)
        .unionByName(bucket)
        .unionByName(aucleg)
        .unionByName(calibleg)
        .unionByName(thrleg)
        .unionByName(report)
    )


@register(
    "doc_profile",
    tags=("ext-text",),
    # the boilerplate leg's planted footers + document-frequency floor —
    # module constants so the Spark plane and the oracle interpolate the
    # SAME literals (chr(10) in SQL because standard SQL strings do not
    # process backslash escapes; the Spark side uses real newlines)
    oracle=f"""
        WITH prof AS (
            SELECT doc_id, en_hits, es_hits, fr_hits, de_hits,
               CASE WHEN en_hits >= es_hits AND en_hits >= fr_hits AND en_hits >= de_hits THEN 'en'
                    WHEN es_hits >= fr_hits AND es_hits >= de_hits THEN 'es'
                    WHEN fr_hits >= de_hits THEN 'fr'
                    ELSE 'de' END AS predicted_lang,
               fp, min_shingle_fp
            FROM (
                SELECT doc_id,
                       len(list_filter(str_split(text,' '), x -> x IN ('the','and','of','to','a','in','is','that'))) AS en_hits,
                       len(list_filter(str_split(text,' '), x -> x IN ('el','la','de','que','y','en','un','por'))) AS es_hits,
                       len(list_filter(str_split(text,' '), x -> x IN ('le','la','de','et','un','en','que','pour'))) AS fr_hits,
                       len(list_filter(str_split(text,' '), x -> x IN ('der','die','und','das','von','zu','ein','mit'))) AS de_hits,
                       md5(text) AS fp,
                       list_aggregate(
                           list_transform(
                               generate_series(1, greatest(len(str_split(text,' ')) - 3, 1)),
                               i -> md5(array_to_string(list_slice(str_split(text,' '), i, i + 3), ' '))
                           ), 'min') AS min_shingle_fp
                FROM documents
            )
        ),
        bcorp AS (
            SELECT doc_id,
                   text || CASE
                       WHEN doc_id % 3 = 0 THEN chr(10) || chr(10) || '{BOILER_FOOTER_COMMON}'
                       WHEN doc_id % 250 = 1 THEN chr(10) || chr(10) || '{BOILER_FOOTER_RARE}'
                       ELSE '' END AS text
            FROM documents
        ),
        bps AS (
            SELECT doc_id,
                   list_filter(str_split_regex(text, '\\n{{2,}}'),
                               x -> trim(x) <> '') AS ps
            FROM bcorp
        ),
        bpara AS (
            SELECT doc_id, pos, ps[pos] AS para
            FROM (SELECT doc_id, unnest(generate_series(1, len(ps))) AS pos, ps
                  FROM bps)
        ),
        bfreq AS (
            SELECT md5(para) AS para_fp FROM bpara
            GROUP BY md5(para)
            HAVING count(DISTINCT doc_id) >= {BOILER_MIN_DOCS}
        ),
        breb AS (
            SELECT doc_id,
                   string_agg(para, chr(10) || chr(10) ORDER BY pos) AS cleaned_text,
                   count(*) AS n_kept
            FROM bpara
            WHERE md5(para) NOT IN (SELECT para_fp FROM bfreq)
            GROUP BY doc_id
        ),
        bleg AS (
            SELECT s.doc_id,
                   md5(coalesce(r.cleaned_text, '')) AS cleaned_fp,
                   CAST(len(s.ps) AS INTEGER) AS n_units,
                   CAST(len(s.ps) - coalesce(r.n_kept, 0) AS INTEGER) AS n_removed
            FROM bps s LEFT JOIN breb r USING (doc_id)
        ),
        scorp AS (
            SELECT doc_id,
                   text || CASE
                       WHEN doc_id % 4 = 0 THEN ' ' || '{SPAN_COMMON}'
                       WHEN doc_id = {SPAN_WITHIN_DOC}
                           THEN ' ' || '{SPAN_WITHIN}' || ' ' || '{SPAN_WITHIN}'
                       WHEN doc_id = {SPAN_ONCE_DOC} THEN ' ' || '{SPAN_ONCE}'
                       ELSE '' END AS text
            FROM documents
        ),
        stoks AS (
            SELECT doc_id, str_split(text, ' ') AS toks FROM scorp
        ),
        sfp AS (
            SELECT doc_id, p,
                   md5(array_to_string(
                       list_slice(toks, p, p + {SPAN_K} - 1), ' ')) AS fp
            FROM (
                SELECT doc_id, toks,
                       unnest(generate_series(1, len(toks) - {SPAN_K} + 1)) AS p
                FROM stoks WHERE len(toks) >= {SPAN_K}
            )
        ),
        shot AS (
            SELECT fp FROM sfp GROUP BY fp HAVING count(*) >= 2
        ),
        scov AS (
            SELECT DISTINCT doc_id, ti FROM (
                SELECT s.doc_id,
                       unnest(generate_series(s.p, s.p + {SPAN_K} - 1)) AS ti
                FROM sfp s JOIN shot USING (fp)
            )
        ),
        stokrows AS (
            SELECT doc_id, i, toks[i] AS tok FROM (
                SELECT doc_id, toks,
                       unnest(generate_series(1, len(toks))) AS i
                FROM stoks
            )
        ),
        sreb AS (
            SELECT tr.doc_id,
                   string_agg(tr.tok, ' ' ORDER BY tr.i) AS cleaned,
                   count(*) AS n_kept
            FROM stokrows tr LEFT JOIN scov c
                 ON tr.doc_id = c.doc_id AND tr.i = c.ti
            WHERE c.doc_id IS NULL
            GROUP BY tr.doc_id
        ),
        sleg AS (
            SELECT s.doc_id,
                   md5(coalesce(r.cleaned, '')) AS cleaned_fp,
                   CAST(len(s.toks) AS INTEGER) AS n_units,
                   CAST(len(s.toks) - coalesce(r.n_kept, 0) AS INTEGER)
                       AS n_removed
            FROM stoks s LEFT JOIN sreb r USING (doc_id)
        ),
        embtok AS (
            SELECT doc_id, unnest(str_split(text, ' ')) AS t FROM documents
        ),
        embbt AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)
                       % {xembed.DEFAULT_DIM} AS b,
                   CASE WHEN CAST(('0x' || substr(md5(t), 9, 1)) AS BIGINT)
                             % 2 = 0
                        THEN 1 ELSE -1 END AS s
            FROM embtok WHERE t <> ''
        ),
        embv AS (
            SELECT doc_id, b, SUM(s) AS val FROM embbt GROUP BY doc_id, b
        ),
        embgrid AS (
            SELECT d.doc_id, gs.i
            FROM documents d
            CROSS JOIN generate_series(0, {xembed.DEFAULT_DIM - 1}) gs(i)
        ),
        embfull AS (
            SELECT g.doc_id, g.i, coalesce(v.val, 0) AS val
            FROM embgrid g
            LEFT JOIN embv v ON v.doc_id = g.doc_id AND v.b = g.i
        ),
        embleg AS (
            SELECT doc_id,
                   md5(string_agg(CAST(val AS VARCHAR), ',' ORDER BY i))
                       AS cleaned_fp,
                   count(*) FILTER (WHERE val <> 0) AS nz
            FROM embfull GROUP BY doc_id
        ),
        dsb AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)
                       % {xembed.DEFAULT_DIM} AS b
            FROM embtok WHERE t <> ''
        ),
        dsv AS (
            SELECT doc_id, b, count(*) AS c FROM dsb GROUP BY doc_id, b
        ),
        dstot AS (
            SELECT b,
                   SUM(CASE WHEN d.lang = 'en' THEN c ELSE 0 END) AS tc,
                   SUM(c) AS sc
            FROM dsv v JOIN documents d USING (doc_id) GROUP BY b
        ),
        dssum AS (
            SELECT CAST(SUM(tc) + {xembed.DEFAULT_DIM} AS BIGINT) AS tsum,
                   CAST(SUM(sc) + {xembed.DEFAULT_DIM} AS BIGINT) AS ssum
            FROM dstot
        ),
        dsw AS (
            SELECT g.i AS b,
                   CAST(floor(1000000.0 * ln(
                       (CAST(coalesce(t.tc, 0) + 1 AS BIGINT) * s.ssum)
                       / (CAST(coalesce(t.sc, 0) + 1 AS BIGINT) * s.tsum)
                   )) AS BIGINT) AS w
            FROM generate_series(0, {xembed.DEFAULT_DIM - 1}) g(i)
            LEFT JOIN dstot t ON t.b = g.i CROSS JOIN dssum s
        ),
        dsscore AS (
            SELECT v.doc_id, SUM(v.c * w.w) AS score
            FROM dsv v JOIN dsw w ON w.b = v.b GROUP BY v.doc_id
        ),
        dsleg AS (
            SELECT d.doc_id, CAST(coalesce(s.score, 0) AS INTEGER) AS score
            FROM documents d LEFT JOIN dsscore s USING (doc_id)
        ),
        snov AS (
            SELECT s.doc_id, count(*) AS n_windows,
                   count(*) FILTER (WHERE s.fp IN (SELECT fp FROM shot))
                       AS dup_windows
            FROM sfp s GROUP BY s.doc_id
        ),
        novleg AS (
            SELECT st.doc_id,
                   CAST(coalesce(n.n_windows, 0) AS INTEGER) AS n_units,
                   CAST(coalesce(n.dup_windows, 0) AS INTEGER) AS n_removed
            FROM stoks st LEFT JOIN snov n USING (doc_id)
        ),
        softleg AS (
            SELECT doc_id,
                   count(*) OVER (PARTITION BY md5(t)) AS dup_count
            FROM (
                SELECT doc_id,
                       CASE WHEN doc_id % 5 = 0 THEN '{SOFTDEDUP_TEMPLATE}'
                            ELSE text END AS t
                FROM documents
            )
        ),
        -- passage attribution (kind='attrib', r13): probes 9001 (a
        -- verbatim {ATTRIB_LEN}-token cut of doc {ATTRIB_SRC_DOC}) and
        -- 9002 (same cut, one mid-passage token edited) attributed via
        -- exact k-token window md5 fingerprints: probe windows at hop
        -- 1, corpus windows at hop {ATTRIB_HOP}, constant-offset vote
        -- — the FULL replay (every corpus doc's windows participate,
        -- so cross-document window collisions, if any, are replayed
        -- too, not assumed away)
        atoks AS (
            SELECT doc_id, str_split(text, ' ') AS toks FROM documents
        ),
        aptoks AS (
            SELECT probe_id, list(tok ORDER BY i) AS toks FROM (
                SELECT p.probe_id, gi.i AS i,
                       CASE WHEN s.toks[{ATTRIB_START} - 1 + gi.i] IS NULL
                            THEN NULL
                            WHEN p.probe_id = {ATTRIB_PROBE_EDITED}
                                 AND gi.i = {ATTRIB_EDIT_POS}
                            THEN '{ATTRIB_EDIT_TOKEN}'
                            ELSE s.toks[{ATTRIB_START} - 1 + gi.i] END AS tok
                FROM (VALUES ({ATTRIB_PROBE_VERBATIM}),
                             ({ATTRIB_PROBE_EDITED})) p(probe_id),
                     (SELECT toks FROM atoks
                      WHERE doc_id = {ATTRIB_SRC_DOC}) s,
                     generate_series(1, {ATTRIB_LEN}) gi(i)
            ) WHERE tok IS NOT NULL GROUP BY probe_id
        ),
        apfp AS (
            SELECT probe_id, p,
                   md5(array_to_string(
                       list_slice(toks, p, p + {ATTRIB_K} - 1), ' ')) AS fp
            FROM (
                SELECT probe_id, toks,
                       unnest(generate_series(
                           1, len(toks) - {ATTRIB_K} + 1)) AS p
                FROM aptoks WHERE len(toks) >= {ATTRIB_K}
            )
        ),
        acfp AS (
            SELECT doc_id, p,
                   md5(array_to_string(
                       list_slice(toks, p, p + {ATTRIB_K} - 1), ' ')) AS fp
            FROM (
                SELECT doc_id, toks,
                       unnest(generate_series(
                           1, len(toks) - {ATTRIB_K} + 1,
                           {ATTRIB_HOP})) AS p
                FROM atoks WHERE len(toks) >= {ATTRIB_K}
            )
        ),
        avote AS (
            SELECT x.probe_id, y.doc_id, y.p - x.p AS off, COUNT(*) AS n
            FROM apfp x JOIN acfp y ON x.fp = y.fp
            GROUP BY 1, 2, 3
            HAVING COUNT(*) >= {ATTRIB_MIN_MATCHES}
        )
        SELECT 'profile' AS kind, doc_id, en_hits, es_hits, fr_hits, de_hits,
               predicted_lang, fp, min_shingle_fp,
               CAST(NULL AS VARCHAR) AS cleaned_fp,
               CAST(NULL AS INTEGER) AS n_units, CAST(NULL AS INTEGER) AS n_removed
        FROM prof
        UNION ALL
        SELECT 'boilerplate', doc_id, NULL, NULL, NULL, NULL,
               CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
               cleaned_fp, n_units, n_removed
        FROM bleg
        UNION ALL
        SELECT 'spans', doc_id, NULL, NULL, NULL, NULL,
               CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
               cleaned_fp, n_units, n_removed
        FROM sleg
        UNION ALL
        SELECT 'embed', doc_id, NULL, NULL, NULL, NULL,
               CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
               cleaned_fp, CAST(nz AS INTEGER), CAST(NULL AS INTEGER)
        FROM embleg
        UNION ALL
        SELECT 'dsir', doc_id, NULL, NULL, NULL, NULL,
               CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
               CAST(NULL AS VARCHAR), score, CAST(NULL AS INTEGER)
        FROM dsleg
        UNION ALL
        SELECT 'novelty', doc_id, NULL, NULL, NULL, NULL,
               CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
               CAST(NULL AS VARCHAR), n_units, n_removed
        FROM novleg
        UNION ALL
        SELECT 'softdedup', doc_id, NULL, NULL, NULL, NULL,
               CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
               CAST(NULL AS VARCHAR), CAST(dup_count AS INTEGER),
               CAST(1000000 // dup_count AS INTEGER)
        FROM softleg
        UNION ALL
        SELECT 'attrib', CAST(probe_id AS BIGINT), NULL, NULL, NULL, NULL,
               CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
               CAST(doc_id AS VARCHAR), CAST(off AS INTEGER),
               CAST(n AS INTEGER)
        FROM avote
        UNION ALL
        -- kind='attrib_del' (r13): after the source doc's windows are
        -- deleted from the persisted index, the same probes can no
        -- longer name it — the replay is avote MINUS the deleted doc
        -- (silence on this corpus; a cross-collision doc would appear
        -- here, replayed, not assumed away)
        SELECT 'attrib_del', CAST(probe_id AS BIGINT), NULL, NULL, NULL,
               NULL, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
               CAST(NULL AS VARCHAR), CAST(doc_id AS VARCHAR),
               CAST(off AS INTEGER), CAST(n AS INTEGER)
        FROM avote WHERE doc_id <> {ATTRIB_SRC_DOC}
        UNION ALL
        -- kind='delta' (r13): dataset versioning — the deterministic
        -- second snapshot diffed against the corpus; per-doc status in
        -- cleaned_fp, content equality decided hash-to-hash
        SELECT 'delta', doc_id, NULL, NULL, NULL, NULL,
               CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
               CAST(NULL AS VARCHAR), status,
               CAST(NULL AS INTEGER), CAST(NULL AS INTEGER)
        FROM (
            SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
                   CASE WHEN o.doc_id IS NULL THEN 'added'
                        WHEN n.doc_id IS NULL THEN 'removed'
                        WHEN md5(o.text) <> md5(n.text) THEN 'changed'
                        ELSE 'unchanged' END AS status
            FROM documents o
            FULL OUTER JOIN (
                SELECT doc_id,
                       CASE WHEN doc_id % 97 = 5 THEN text || ' v2'
                            ELSE text END AS text
                FROM documents WHERE doc_id % 97 <> 3
                UNION ALL
                SELECT doc_id + 1000000, text FROM documents
                WHERE doc_id % 97 = 7
            ) n ON o.doc_id = n.doc_id
        )
    """,
)
def doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document identity + hygiene profile, two suite legs:

    kind='profile' — language ID + content fingerprints over ONE
    documents scan:
    - Function-word-inventory language ID: score each language's stopword
      hits per document, argmax with a fixed preference order. The
      operator shape (per-row scoring + deterministic argmax) is what a
      real fastText scorer slots into — as a pandas_udf producing the
      same columns.
    - Content fingerprints: whole-document md5 + rolling-hash (min over
      4-token shingles) — the keys exact and near dedup group on.

    kind='boilerplate' — corpus-level boilerplate-paragraph removal
    (`ext/text.py:remove_boilerplate_paragraphs`) over a deterministic
    multi-paragraph corpus synthesized IN-QUERY (the raw documents have
    no newlines): every 3rd doc gains a shared footer paragraph (~167
    docs at sf0.01 — far above the document-frequency floor, removed
    from all of them), every 250th-plus-1 gains a RARE footer (2 docs —
    below the floor, kept: the negative case the hash pins). cleaned_fp
    = md5 of the reconstructed text certifies the exact post-removal
    bytes without shipping them; n_units/n_removed are the audit
    columns (units = paragraphs here, tokens in the spans leg).

    kind='spans' — corpus-level duplicate-SPAN removal
    (`ext/text.py:remove_duplicate_spans`, the Lee-et-al-style substring
    dedup) over a second synthesized corpus: every 4th doc gains a
    shared 10-token sentence (cross-doc hot — all copies removed under
    the default remove-all policy), doc 42 gains one sentence pasted
    TWICE (hot by occurrence count inside a single document — the case
    a distinct-doc floor cannot see), doc 77 gains a once-only sentence
    (the in-window negative case, kept). cleaned_fp again certifies the
    exact rebuilt bytes; n_units = token count, n_removed = tokens cut.

    kind='embed' — the hashed-feature document embedder
    (`ext/embed.py:hashed_features`, the Weinberger et al. feature-
    hashing trick): every token ±1s one of 64 buckets, bucket and sign
    from disjoint hex regions of one md5 per token, the whole vector
    computed AT THE ROW in one fold (zero shuffle — plan-pinned in
    tests). cleaned_fp here = md5 of the comma-joined INTEGER vector —
    certifying all 64 components of every document's embedding without
    shipping them; n_units = nonzero buckets. This is the engine-native
    text→vector producer the SemDeDup/IVF/PQ tier composes with when no
    external model supplies embeddings.

    kind='dsir' — DSIR importance resampling (`ext/embed.py:
    importance_scores`, Xie et al. 2023): target = the corpus's English
    slice, source = the whole corpus; per-bucket ppm log-ratio weights
    under +1 smoothing (driver-resident dim-vector, the two corpus
    aggregations ship O(dim) longs per partition), per-doc score = the
    integer dot of its hashed counts with the weights (n_units). Every
    score is replayed exactly by the oracle — the ln() of the composed
    integer ratio is evaluated on doubles both planes produce
    identically (all operands < 2⁵³).

    kind='novelty' — the duplicated-window fraction score
    (`ext/text.py:ngram_duplication_scores`, the SCORING sibling of the
    spans leg) over the SAME planted-span corpus: n_units = k-token
    windows, n_removed = windows whose fingerprint occurs ≥ 2 times
    corpus-wide — every 4th doc carries copied-footer duplication, doc
    42's within-doc paste counts (total-occurrence floor), doc 77's
    once-only sentence does not. A green row pins the signal a curation
    pipeline gates on when it drops mostly-duplicated documents instead
    of surgically despanning them.

    kind='softdedup' — frequency-aware DOWN-WEIGHTING
    (`ext/dedup.py:soft_dedup_weights`, the SoftDeDup alternative to
    exact dedup's hard drop) over a planted duplicate group (every 5th
    doc shares one template): n_units = the content fingerprint's
    duplication count, n_removed = weight_ppm = 1e6 DIV dup_count —
    every row survives, a duplicate group's total weight sums to ~1e6,
    and the oracle replays the fingerprint-count window and the integer
    division exactly."""
    # r13: spread the scan before the per-leg shingle/md5 fingerprint map
    # stages — no-op at scale, see widen_narrow_scan.
    # r14 (ADVICE): ~10 legs consume the widened frame — one lazy
    # localCheckpoint shares a single materialized spread instead of
    # re-running scan + round-robin exchange per leg (21 RoundRobin nodes
    # in the r13 after-plan); columns pruned to the three the legs read.
    docs = widen_narrow_scan(
        table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    ).localCheckpoint(eager=False)
    toks = xtext.tokens("text")
    # the reusable language-ID pair (ext/text.py): per-inventory scores +
    # fixed-preference argmax — the oracle CASE chain replays the same
    # order, so the two planes cannot drift
    hits = {
        f"{lang}_hits": c.alias(f"{lang}_hits")
        for lang, c in xtext.language_scores(toks).items()
    }
    scored = docs.select(
        "doc_id",
        *hits.values(),
        xtext.detect_language(toks).alias("predicted_lang"),
        xtext.exact_fingerprint("text").alias("fp"),
        xtext.min_shingle_fingerprint(toks, k=4).alias("min_shingle_fp"),
    )
    profile_leg = scored.select(
        F.lit("profile").alias("kind"),
        "doc_id", "en_hits", "es_hits", "fr_hits", "de_hits",
        "predicted_lang", "fp", "min_shingle_fp",
        F.lit(None).cast("string").alias("cleaned_fp"),
        F.lit(None).cast("int").alias("n_units"),
        F.lit(None).cast("int").alias("n_removed"),
    )

    bcorp = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0, F.lit("\n\n" + BOILER_FOOTER_COMMON)
            )
            .when(F.col("doc_id") % 250 == 1, F.lit("\n\n" + BOILER_FOOTER_RARE))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    cleaned = xtext.remove_boilerplate_paragraphs(bcorp, min_docs=BOILER_MIN_DOCS)
    null_dims = [
        F.lit(None).cast("int").alias(c)
        for c in ("en_hits", "es_hits", "fr_hits", "de_hits")
    ]
    null_fps = [
        F.lit(None).cast("string").alias(c)
        for c in ("predicted_lang", "fp", "min_shingle_fp")
    ]
    boiler_leg = cleaned.select(
        F.lit("boilerplate").alias("kind"),
        "doc_id",
        *null_dims,
        *null_fps,
        F.md5("cleaned_text").alias("cleaned_fp"),
        F.col("n_paras").cast("int").alias("n_units"),
        "n_removed",
    )

    scorp = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 4 == 0, F.lit(" " + SPAN_COMMON))
            .when(
                F.col("doc_id") == SPAN_WITHIN_DOC,
                F.lit(" " + SPAN_WITHIN + " " + SPAN_WITHIN),
            )
            .when(F.col("doc_id") == SPAN_ONCE_DOC, F.lit(" " + SPAN_ONCE))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    despanned = xtext.remove_duplicate_spans(scorp, k=SPAN_K, min_count=2)
    spans_leg = despanned.select(
        F.lit("spans").alias("kind"),
        "doc_id",
        *null_dims,
        *null_fps,
        F.md5("cleaned_text").alias("cleaned_fp"),
        F.col("n_tokens").cast("int").alias("n_units"),
        "n_removed",
    )

    vec = xembed.hashed_features("text", dim=xembed.DEFAULT_DIM)
    embed_leg = docs.select(
        F.lit("embed").alias("kind"),
        "doc_id",
        *null_dims,
        *null_fps,
        F.md5(
            F.concat_ws(",", F.transform(vec, lambda v: v.cast("string")))
        ).alias("cleaned_fp"),
        F.size(F.filter(vec, lambda v: v != 0)).cast("int").alias("n_units"),
        F.lit(None).cast("int").alias("n_removed"),
    )

    # DSIR weights: target = the English slice, source = the whole corpus
    # (resample-toward-English demo semantics); two bounded aggregations
    # at query-build time, then the scoring pass is map-only
    dsir_w = xembed.importance_weights_ppm(
        xembed.bucket_totals(docs.filter(F.col("lang") == "en")),
        xembed.bucket_totals(docs),
    )
    dsir_leg = xembed.importance_scores(docs, dsir_w).select(
        F.lit("dsir").alias("kind"),
        "doc_id",
        *null_dims,
        *null_fps,
        F.lit(None).cast("string").alias("cleaned_fp"),
        F.col("dsir_score_ppm").cast("int").alias("n_units"),
        F.lit(None).cast("int").alias("n_removed"),
    )
    novelty_leg = xtext.ngram_duplication_scores(
        scorp, k=SPAN_K, min_count=2
    ).select(
        F.lit("novelty").alias("kind"),
        "doc_id",
        *null_dims,
        *null_fps,
        F.lit(None).cast("string").alias("cleaned_fp"),
        F.col("n_windows").cast("int").alias("n_units"),
        F.col("dup_windows").cast("int").alias("n_removed"),
    )
    # kind='softdedup': the down-weighting alternative to hard exact
    # dedup (ext/dedup.py:soft_dedup_weights) over a planted duplicate
    # group — n_units = dup_count, n_removed = weight_ppm; the oracle
    # replays the fingerprint count window + the integer division
    dupcorp = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0, F.lit(SOFTDEDUP_TEMPLATE))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    soft_leg = xdedup.soft_dedup_weights(dupcorp).select(
        F.lit("softdedup").alias("kind"),
        "doc_id",
        *null_dims,
        *null_fps,
        F.lit(None).cast("string").alias("cleaned_fp"),
        F.col("dup_count").cast("int").alias("n_units"),
        F.col("weight_ppm").cast("int").alias("n_removed"),
    )
    # kind='attrib' (r13): passage attribution through the PERSISTED
    # passage index — the corpus is tokenized ONCE into windows/ on
    # disk (hop-thinned), the probes are fingerprinted and voted
    # against the stored windows (no corpus text in the probe plan —
    # the FileScan pin lives in tests/test_passage_index.py). Probe
    # 9001 = a verbatim cut of doc ATTRIB_SRC_DOC, probe 9002 = the
    # same cut with one mid-passage token edited. The slot carries the
    # attributed source doc in cleaned_fp (as a string), the 0-based
    # token offset in n_units and the vote count in n_removed; the
    # oracle replays window fingerprints + the constant-offset vote —
    # including the hop arithmetic and any cross-document window
    # collisions — in SQL.
    from concurrent.futures import ThreadPoolExecutor

    from beeper_matric_etl_tool_spark.ext.passage_index import (
        attribute_against_index,
        build_passage_index,
        delete_from_passage_index,
    )

    src_toks = F.slice(
        F.split(F.col("text"), " "), ATTRIB_START, ATTRIB_LEN
    )
    edited_toks = F.transform(
        src_toks,
        lambda x, i: F.when(
            i == ATTRIB_EDIT_POS - 1, F.lit(ATTRIB_EDIT_TOKEN)
        ).otherwise(x),
    )
    probes = docs.filter(F.col("doc_id") == ATTRIB_SRC_DOC).select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(ATTRIB_PROBE_VERBATIM).alias("doc_id"),
                    F.concat_ws(" ", src_toks).alias("text"),
                ),
                F.struct(
                    F.lit(ATTRIB_PROBE_EDITED).alias("doc_id"),
                    F.concat_ws(" ", edited_toks).alias("text"),
                ),
            )
        ).alias("p")
    ).select(F.col("p.doc_id").cast("long").alias("doc_id"), "p.text")
    pidx_dir = workdir("dp_attrib_idx_")

    def _attrib_lifecycle():
        # build → probe (pinned BEFORE the index mutates) → delete; the
        # chain's internal order is semantic, but the whole chain is
        # independent of the delta leg composed below — running it from
        # a driver thread overlaps its eager jobs with that composition's
        # driver-side analysis (r14, guide §2.6; the r13 multimodal
        # lifecycle-overlap pattern applied to the text plane)
        build_passage_index(
            docs, pidx_dir, k=ATTRIB_K, corpus_hop=ATTRIB_HOP, normalize=False
        )
        leg = attribute_against_index(
            probes, spark, pidx_dir, min_matches=ATTRIB_MIN_MATCHES
        ).select(
            F.lit("attrib").alias("kind"),
            F.col("probe_id").cast("long").alias("doc_id"),
            *null_dims,
            *null_fps,
            F.col("doc_id").cast("string").alias("cleaned_fp"),
            F.col("offset").cast("int").alias("n_units"),
            F.col("n_matched").cast("int").alias("n_removed"),
        ).localCheckpoint(eager=True)  # pin the pre-delete verdicts
        # kind='attrib_del' (r13): the takedown cascade on the text
        # plane — the source doc's windows DELETED from the persisted
        # index, the same probes re-attributed. The removed source can
        # no longer be named; any surviving votes would go to
        # cross-collision docs, which the oracle REPLAYS (a vote minus
        # the deleted doc) rather than assumes away — on this corpus the
        # correct verdict is silence.
        delete_from_passage_index(spark, pidx_dir, [ATTRIB_SRC_DOC])
        return leg

    with ThreadPoolExecutor(max_workers=1) as _pool:
        _f_attrib = _pool.submit(_attrib_lifecycle)
        # kind='delta' (r13): dataset versioning — a deterministic second
        # snapshot (every 97th doc at residue 3 removed, residue 5 edited,
        # residue 7 re-added under id+1e6) diffed by `corpus_delta`:
        # per-doc status added/removed/changed/unchanged rides cleaned_fp.
        # The shuffle carries (id, 16-byte fingerprint), never text.
        # Composed while the lifecycle thread's jobs run (its analysis is
        # pure driver work); attrib_del_leg waits below — it reads the
        # post-delete index state.
        from beeper_matric_etl_tool_spark.ext.pipeline import corpus_delta

        new_snap = (
            docs.filter(F.col("doc_id") % 97 != 3)
            .select(
                "doc_id",
                F.when(
                    F.col("doc_id") % 97 == 5,
                    F.concat(F.col("text"), F.lit(" v2")),
                )
                .otherwise(F.col("text"))
                .alias("text"),
            )
            .unionByName(
                docs.filter(F.col("doc_id") % 97 == 7).select(
                    (F.col("doc_id") + 1000000).alias("doc_id"), "text"
                )
            )
        )
        delta_leg = corpus_delta(docs, new_snap).select(
            F.lit("delta").alias("kind"),
            F.col("doc_id"),
            *null_dims,
            *null_fps,
            F.col("status").alias("cleaned_fp"),
            F.lit(None).cast("int").alias("n_units"),
            F.lit(None).cast("int").alias("n_removed"),
        )
        attrib_leg = _f_attrib.result()
    attrib_del_leg = attribute_against_index(
        probes, spark, pidx_dir, min_matches=ATTRIB_MIN_MATCHES
    ).select(
        F.lit("attrib_del").alias("kind"),
        F.col("probe_id").cast("long").alias("doc_id"),
        *null_dims,
        *null_fps,
        F.col("doc_id").cast("string").alias("cleaned_fp"),
        F.col("offset").cast("int").alias("n_units"),
        F.col("n_matched").cast("int").alias("n_removed"),
    )
    return (
        profile_leg.unionByName(boiler_leg)
        .unionByName(spans_leg)
        .unionByName(embed_leg)
        .unionByName(dsir_leg)
        .unionByName(novelty_leg)
        .unionByName(soft_leg)
        .unionByName(attrib_leg)
        .unionByName(attrib_del_leg)
        .unionByName(delta_leg)
    )


@register(
    "ngram_frequencies",
    tags=("ext-text",),
    oracle="""
        SELECT 1 AS n_gram, gram, n FROM (
            SELECT token AS gram, count(*) AS n FROM (
                SELECT unnest(str_split(text, ' ')) AS token FROM documents
            ) GROUP BY token ORDER BY n DESC, gram LIMIT 20
        )
        UNION ALL
        SELECT 2 AS n_gram, gram, n FROM (
            SELECT bigram AS gram, count(*) AS n FROM (
                SELECT unnest(list_transform(
                    generate_series(1, greatest(len(toks) - 1, 1)),
                    i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS bigram
                FROM (SELECT str_split(text, ' ') AS toks FROM documents)
            ) GROUP BY bigram ORDER BY n DESC, gram LIMIT 20
        )
    """,
)
def ngram_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram corpus statistics for n ∈ {1, 2}: explode → count → top-20
    per n — the term table and collocation table feeding tokenizer
    training / contamination checks. The explode happens before the
    shuffle but after column pruning (only `text` is read).
    NOTE: bigrams use every occurrence, not shingles() — that dedups per
    doc; frequencies need multiplicity."""
    docs = table(spark, sf_dir, "documents")
    uni = (
        docs.select(F.explode(xtext.tokens("text")).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("gram").asc())
        .limit(20)
        .select(F.lit(1).alias("n_gram"), "gram", "n")
    )
    raw_bigrams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(xtext.tokens("text")) - 1, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(xtext.tokens("text"), i, 2)),
    )
    bi = (
        docs.select(F.explode(raw_bigrams).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("gram").asc())
        .limit(20)
        .select(F.lit(2).alias("n_gram"), "gram", "n")
    )
    return uni.unionByName(bi)


# --------------------------------------------------------------------------
# Deduplication
# --------------------------------------------------------------------------


@register(
    "dedup_exact",
    headline=True,
    tags=("ext-dedup",),
    oracle="""
        WITH corpus AS (
            SELECT doc_id, text, lang, source, n_chars FROM documents
            UNION ALL
            SELECT doc_id + 100000, text, lang, source, n_chars
            FROM documents WHERE doc_id % 10 = 0
        )
        SELECT doc_id, lang, source, n_chars FROM corpus
        QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content fingerprint, lowest id wins. Every 10th doc is
    redelivered under a shifted id — the collapse must keep the original.
    The shuffle key is the 16-byte md5, never the document body."""
    docs = table(spark, sf_dir, "documents")
    redelivered = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    corpus = docs.unionByName(redelivered)
    return xdedup.exact_dedup(corpus).select("doc_id", "lang", "source", "n_chars")


@register(
    "dedup_graph",
    tags=("ext-dedup",),
    # The oracle re-derives both halves with one recursive CTE: the pair
    # half scores exact Jaccard inline; reach(node, r) = every node
    # reachable from `node` through the undirected pair graph; cluster id
    # = min(r). UNION (distinct) bounds the recursion; component sizes
    # are tiny so the closure is cheap at oracle scale.
    oracle=f"""
        WITH RECURSIVE sh AS (
            SELECT doc_id, lang,
                   list_distinct(list_transform(
                       generate_series(1, greatest(len(str_split(text,' ')) - 2, 1)),
                       i -> array_to_string(list_slice(str_split(text,' '), i, i + 2), ' ')
                   )) AS shingle_set
            FROM documents
        ),
        pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   (1000000 * len(list_intersect(a.shingle_set, b.shingle_set)))
                     // len(list_distinct(list_concat(a.shingle_set, b.shingle_set)))
                     AS jac
            FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
            WHERE len(list_intersect(a.shingle_set, b.shingle_set))
                  / CAST(len(list_distinct(list_concat(a.shingle_set, b.shingle_set))) AS DOUBLE) >= 0.15
        ),
        edges AS (
            SELECT id_a AS s, id_b AS d FROM pairs
            UNION
            SELECT id_b, id_a FROM pairs
        ),
        reach(node, r) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT reach.node, e.d FROM reach JOIN edges e ON e.s = reach.r
        ),
        iref AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 4 != 0
        ),
        ibatch AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0
            UNION ALL
            SELECT doc_id + 100000, text FROM documents
            WHERE doc_id % 4 != 0 AND doc_id % 10 = 1
        ),
        iexact AS (
            SELECT b.doc_id, min(r.doc_id) AS ref_id
            FROM ibatch b JOIN iref r ON md5(b.text) = md5(r.text)
            GROUP BY b.doc_id
        ),
        iafter AS (
            SELECT * FROM ibatch
            WHERE doc_id NOT IN (SELECT doc_id FROM iexact)
        ),
        {_minhash_band_cte("iafter", "in")},
        {_minhash_band_cte("iref", "ir")},
        ixcand AS (
            SELECT DISTINCT n.doc_id AS new_id, r.doc_id AS ref_id
            FROM inbnd n JOIN irbnd r USING (band_id, band_hash)
        ),
        inearp AS (
            SELECT c.new_id, c.ref_id,
                   (1000000 * len(list_intersect(a.s, b.s)))
                     // len(list_distinct(list_concat(a.s, b.s))) AS jppm
            FROM ixcand c
            JOIN insh a ON a.doc_id = c.new_id
            JOIN irsh b ON b.doc_id = c.ref_id
            WHERE len(list_intersect(a.s, b.s))
                  / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE)
                  >= 0.7
        ),
        -- closest-match witness (max jaccard, ties to smallest ref_id) —
        -- the r12 unified witness contract, shared with the media index
        inear AS (
            SELECT new_id AS doc_id, ref_id, jppm FROM (
                SELECT new_id, ref_id, jppm,
                       row_number() OVER (PARTITION BY new_id
                                          ORDER BY jppm DESC, ref_id) AS rn
                FROM inearp
            ) WHERE rn = 1
        )
        SELECT 'pair' AS kind, id_a AS a, id_b AS b, CAST(jac AS BIGINT) AS score
        FROM pairs
        UNION ALL
        SELECT 'cluster' AS kind, node AS a, min(r) AS b,
               CAST(node = min(r) AS BIGINT) AS score
        FROM reach GROUP BY node
        UNION ALL
        SELECT 'incr_keep', doc_id, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
        FROM iafter WHERE doc_id NOT IN (SELECT doc_id FROM inear)
        UNION ALL
        SELECT 'incr_drop_exact', doc_id, ref_id, CAST(NULL AS BIGINT)
        FROM iexact
        UNION ALL
        SELECT 'incr_drop_near', doc_id, ref_id, CAST(jppm AS BIGINT)
        FROM inear
        UNION ALL
        SELECT 'split', node, min(r),
               CAST(substr(md5(CAST(min(r) AS VARCHAR) || '{CLUSTER_SPLIT_SALT}'),
                           1, 1) IN ('0', '1') AS BIGINT)
        FROM reach GROUP BY node
    """,
)
def dedup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup pipeline's two relations in one query, pairs computed
    ONCE and reused (the former jaccard_pairs + dedup_clusters entries):

    kind='pair' — exact 3-gram Jaccard near-dup pairs (a, b, score =
    jaccard ppm), blocked by language — the quadratic verifier that LSH
    candidates feed at scale (here run on whole blocks to stay
    oracle-checkable).
    kind='cluster' — pairs → duplicate CLUSTERS, the final step of a real
    dedup pipeline (pairs alone delete nothing): min-label-propagation
    connected components label every document (a = doc_id, b = cluster id
    = min doc id of its component, singletons label themselves; score =
    1 when the doc is its cluster's canonical survivor).
    `filter(kind='cluster' AND score=1)` is the deduplicated corpus. All
    iteration runs on the pair graph — the corpus is touched once, in the
    final left join.

    kind='incr_keep' / 'incr_drop_exact' / 'incr_drop_near' — INCREMENTAL
    dedup (ext/dedup.py:dedup_against_reference), the per-snapshot mode a
    live pipeline runs instead of re-deduplicating the whole corpus: the
    documents table is hash-split into an already-kept reference
    (doc_id % 4 != 0) and a new batch (doc_id % 4 = 0, plus every
    (% 4 != 0, % 10 = 1) reference doc REDELIVERED under a shifted id so
    the exact tier demonstrably fires). a = batch doc id; drops carry the
    CLOSEST reference witness in b (max verified jaccard, ties to the
    smallest ref_id — the r12 witness contract shared with the media
    index; exact drops carry the smallest matching ref_id) and the
    verified jaccard ppm in score (NULL for exact drops). Runs
    portable=True (md5 minhash family) so the LSH candidate set — and
    therefore every drop/keep decision — is replayed bit-identically by
    the DuckDB oracle.

    kind='split' — the LEAKAGE-SAFE train/val holdout over the same
    clustering (ext/pipeline.py:split_by_cluster): a = doc_id, b = its
    near-dup cluster id, score = 1 iff the ':splitc'-salted hash of the
    CLUSTER id lands the whole cluster in val. The per-doc holdout
    (corpus_composition dim='split') can put two near-twins on opposite
    sides of the split — the classic eval-contamination leak; keying the
    hash on the cluster id makes that impossible by construction, and
    the hash pins both the exact assignment and the same-cluster-same-
    split invariant."""
    # r13: spread the scan before the hash-heavy map stages (shingle md5,
    # portable minhash) — no-op at scale, see widen_narrow_scan.
    # r14 (ADVICE): the widened frame feeds SIX independent legs (pair
    # graph, cluster join-back, incremental ref/batch slices, split) —
    # without the lazy checkpoint every leg re-ran the scan plus its own
    # round-robin exchange of the raw text (95 RoundRobin nodes in the
    # r13 after-plan). One materialized spread, shared; columns pruned
    # to the three the legs read before the exchange moves any bytes.
    docs = widen_narrow_scan(
        table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    ).localCheckpoint(eager=False)
    # the quadratic-in-block Jaccard join is the expensive stage; checkpoint
    # it so BOTH consumers (the pair slice and the cluster iteration, which
    # itself localCheckpoints its edge iterations) read one materialization
    # instead of re-running the join per slice per action
    # lazy (r13): the cluster iteration's first convergence count reads
    # the pair graph, so it materializes this checkpoint in that same
    # action — an eager checkpoint here would run the quadratic join as
    # its own extra job first; every later consumer (the pair slice, the
    # split leg, the final collect) reads the persisted blocks either way
    pairs = xdedup.jaccard_pairs(
        docs, threshold=0.15, block_col="lang", shingle_k=3
    ).localCheckpoint(eager=False)
    clusters = xdedup.dedup_clusters(docs.select("doc_id"), pairs)
    pair_rows = pairs.select(
        F.lit("pair").alias("kind"),
        F.col("id_a").alias("a"),
        F.col("id_b").alias("b"),
        F.col("jaccard_ppm").cast("long").alias("score"),
    )
    cluster_rows = clusters.select(
        F.lit("cluster").alias("kind"),
        F.col("doc_id").alias("a"),
        F.col("cluster_id").alias("b"),
        F.col("is_canonical").cast("long").alias("score"),
    )

    ref = docs.filter(F.col("doc_id") % 4 != 0).select("doc_id", "text")
    batch = (
        docs.filter(F.col("doc_id") % 4 == 0)
        .select("doc_id", "text")
        .unionByName(
            docs.filter((F.col("doc_id") % 4 != 0) & (F.col("doc_id") % 10 == 1))
            .select((F.col("doc_id") + 100000).alias("doc_id"), "text")
        )
    )
    survivors, dropped = xdedup.dedup_against_reference(
        batch, ref, threshold=0.7, portable=True
    )
    null_long = F.lit(None).cast("long")
    keep_rows = survivors.select(
        F.lit("incr_keep").alias("kind"),
        F.col("doc_id").alias("a"),
        null_long.alias("b"),
        null_long.alias("score"),
    )
    drop_rows = dropped.select(
        F.concat(F.lit("incr_drop_"), F.col("reason")).alias("kind"),
        F.col("doc_id").alias("a"),
        F.col("ref_id").alias("b"),
        F.col("jaccard_ppm").cast("long").alias("score"),
    )
    split_rows = split_by_cluster(docs.select("doc_id"), clusters).select(
        F.lit("split").alias("kind"),
        F.col("doc_id").alias("a"),
        F.col("cluster_id").alias("b"),
        (F.col("split") == "val").cast("long").alias("score"),
    )
    return (
        pair_rows.unionByName(cluster_rows)
        .unionByName(keep_rows)
        .unionByName(drop_rows)
        .unionByName(split_rows)
    )


@register(
    "near_dup_pairs",
    tags=("ext-dedup",),
    # FULLY oracled: both funnels run on the PORTABLE hash family (md5
    # minima / 60-bit md5-prefix integers), so signatures, bands, candidates
    # and scores are bit-identical in DuckDB — no engine-private hash left.
    oracle="""
        WITH toks AS (
            SELECT doc_id, str_split(text, ' ') AS t FROM documents
        ),
        sh AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       generate_series(1, greatest(len(t) - 2, 1)),
                       i -> array_to_string(list_slice(t, i, i + 2), ' ')
                   )) AS s
            FROM toks
        ),
        -- minhash: 32 md5-string minima, 8 bands of 4, md5 band keys
        sig AS (
            SELECT doc_id,
                   list_transform(generate_series(0, 31),
                       i -> list_min(list_transform(
                                s, x -> md5(CAST(i AS VARCHAR) || ':' || x)))
                   ) AS sig
            FROM sh
        ),
        mh_bands AS (
            SELECT doc_id, b AS band_id,
                   md5(array_to_string(list_slice(sig, b*4 + 1, b*4 + 4), ','))
                       AS band_hash
            FROM sig CROSS JOIN range(0, 8) r(b)
        ),
        mh_cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM mh_bands a JOIN mh_bands b USING (band_id, band_hash)
            WHERE a.doc_id < b.doc_id
        ),
        mh AS (
            SELECT 'minhash' AS method, c.id_a, c.id_b,
                   CAST((1000000 * len(list_intersect(sa.s, sb.s)))
                        // len(list_distinct(list_concat(sa.s, sb.s)))
                        AS BIGINT) AS score
            FROM mh_cand c
            JOIN sh sa ON sa.doc_id = c.id_a
            JOIN sh sb ON sb.doc_id = c.id_b
            WHERE len(list_intersect(sa.s, sb.s))
                  / CAST(len(list_distinct(list_concat(sa.s, sb.s))) AS DOUBLE)
                  >= 0.5
        ),
        -- simhash: 60-bit md5-prefix token hash, sign-of-votes bits,
        -- pigeonhole banding 4 x 15 bits, hamming verify on candidates
        tok_h AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5(unnest(t)), 1, 15)) AS BIGINT) AS h
            FROM toks
        ),
        sim_bit AS (
            SELECT doc_id, j,
                   CASE WHEN sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) > 0
                        THEN 1 ELSE 0 END AS bit
            FROM tok_h CROSS JOIN range(0, 60) r(j)
            GROUP BY doc_id, j
        ),
        sim_sig AS (
            SELECT doc_id, list(bit ORDER BY j) AS bits FROM sim_bit GROUP BY doc_id
        ),
        sim_bands AS (
            SELECT doc_id, b AS band_id,
                   array_to_string(list_slice(bits, b*15 + 1, b*15 + 15), '')
                       AS band_value
            FROM sim_sig CROSS JOIN range(0, 4) r(b)
        ),
        sim_cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM sim_bands a JOIN sim_bands b USING (band_id, band_value)
            WHERE a.doc_id < b.doc_id
        ),
        sim AS (
            SELECT 'simhash' AS method, c.id_a, c.id_b,
                   CAST(list_sum(list_transform(generate_series(1, 60),
                            i -> abs(sa.bits[i] - sb.bits[i]))) AS BIGINT) AS score
            FROM sim_cand c
            JOIN sim_sig sa ON sa.doc_id = c.id_a
            JOIN sim_sig sb ON sb.doc_id = c.id_b
            WHERE list_sum(list_transform(generate_series(1, 60),
                      i -> abs(sa.bits[i] - sb.bits[i]))) <= 3
        )
        SELECT * FROM mh UNION ALL SELECT * FROM sim
    """,
)
def near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both hash-sketch near-dup funnels in one relation:
    method='minhash' — shingle → 32 md5-minima → 8 bands → band-equi-join →
    exact-Jaccard verify ≥0.5, score = verified jaccard ppm;
    method='simhash' — 60-bit sign-of-votes signature over the portable
    md5-prefix token hash, pigeonhole banding (4×15 bits), score = hamming
    distance ≤ 3 on candidates only.
    Linear-scale candidate generation in both: the only shuffle is the
    band-key equi-join, never an all-pairs cross. Portable hash family
    (ext/dedup.py:portable_hash60) — every intermediate is reproducible by
    the DuckDB oracle, upgrading this from rows-only to hash-checked."""
    # r13: spread the scan before the md5 minhash/simhash map stages —
    # no-op at scale, see widen_narrow_scan.
    # r14 (ADVICE): the two funnels shared the scan but not the spread —
    # one lazy localCheckpoint materializes the (doc_id, text) spread once
    # for both instead of scan + round-robin exchange per funnel.
    docs = widen_narrow_scan(
        table(spark, sf_dir, "documents").select("doc_id", "text")
    ).localCheckpoint(eager=False)
    mh = xdedup.near_dedup_minhash(docs, threshold=0.5, portable=True).select(
        F.lit("minhash").alias("method"), "id_a", "id_b",
        F.col("jaccard_ppm").alias("score"),
    )
    sigs = xdedup.simhash_bits(docs, portable=True)
    sh = xdedup.simhash_candidate_pairs(
        sigs, max_hamming=3, n_bits=xdedup.SIMHASH_BITS_PORTABLE
    ).select(
        F.lit("simhash").alias("method"), "id_a", "id_b",
        F.col("hamming").cast("long").alias("score"),
    )
    return mh.unionByName(sh)


# --------------------------------------------------------------------------
# Similarity search
# --------------------------------------------------------------------------

# Quantized-integer cosine (see ext/similarity.py docstring): component
# floor(x*2^16) makes every dot product an EXACT integer — identical under
# any summation order, so DuckDB's fold, numpy's BLAS and Spark agree
# bit-for-bit where raw float cosines differ in the last ulp.
_COSINE_ORACLE = """
    WITH z AS (
        SELECT vec_id, label,
               list_transform(embedding::DOUBLE[], x -> floor(x * 65536.0)) AS v
        FROM embeddings
    ),
    q AS (
        SELECT vec_id AS query_id, label, v AS qv,
               list_dot_product(v, v) AS qn2
        FROM z WHERE vec_id < 8
    ),
    scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               CAST(floor(1000000 * list_dot_product(q.qv, c.v)
                     / (sqrt(q.qn2) * sqrt(list_dot_product(c.v, c.v))))
                    AS BIGINT) AS cosine_ppm
        FROM q JOIN z c ON c.vec_id <> q.query_id {extra_join}
    )
    SELECT query_id, neighbor_id, cosine_ppm, rnk AS rank FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine_ppm DESC, neighbor_id) AS rnk
        FROM scored
    ) WHERE rnk <= {k}
"""


# nprobe=2 multiprobe leg: the probe's TWO nearest label-centroids, the
# centroids themselves DERIVED from the corpus as exact integer sums (see
# ext/similarity.py `multiprobe_labels` for the engine-identical distance
# contract: exact-integer inputs, pinned IEEE op order, left-fold sum —
# DuckDB's list_reduce starts its fold from the first element where Spark's
# aggregate starts from 0.0, and 0.0 + t0 == t0 exactly).
_MULTIPROBE_ORACLE = """
    WITH z AS (
        SELECT vec_id, label,
               list_transform(embedding::DOUBLE[], x -> floor(x * 65536.0)) AS v
        FROM embeddings
    ),
    zp AS (SELECT label, v, unnest(generate_series(1, len(v))) AS pos FROM z),
    dims AS (
        SELECT label, pos, CAST(sum(CAST(v[pos] AS BIGINT)) AS BIGINT) AS s,
               count(*) AS c
        FROM zp GROUP BY label, pos
    ),
    cent AS (
        SELECT label, list(s ORDER BY pos) AS sums, max(c) AS cnt
        FROM dims GROUP BY label
    ),
    q AS (
        SELECT vec_id AS query_id, label, v AS qv, list_dot_product(v, v) AS qn2
        FROM z WHERE vec_id < 8
    ),
    pc AS (
        SELECT q.query_id, cent.label,
               list_reduce(
                 list_transform(list_zip(q.qv, cent.sums),
                   p -> (p[1] - CAST(p[2] AS DOUBLE)/cent.cnt)
                        * (p[1] - CAST(p[2] AS DOUBLE)/cent.cnt)),
                 (a,b) -> a + b) AS d2
        FROM q CROSS JOIN cent
    ),
    top2 AS (
        SELECT query_id, label FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY d2 ASC, label ASC) AS r FROM pc
        ) WHERE r <= {nprobe}
    ),
    scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               CAST(floor(1000000 * list_dot_product(q.qv, c.v)
                     / (sqrt(q.qn2) * sqrt(list_dot_product(c.v, c.v))))
                    AS BIGINT) AS cosine_ppm
        FROM q JOIN z c ON c.vec_id <> q.query_id
        JOIN top2 t ON t.query_id = q.query_id AND t.label = c.label
    ),
    approx AS (
        SELECT query_id, neighbor_id, cosine_ppm, rnk FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine_ppm DESC, neighbor_id
            ) AS rnk
            FROM scored
        ) WHERE rnk <= {k}
    ),
    bscored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               CAST(floor(1000000 * list_dot_product(q.qv, c.v)
                     / (sqrt(q.qn2) * sqrt(list_dot_product(c.v, c.v))))
                    AS BIGINT) AS cosine_ppm
        FROM q JOIN z c ON c.vec_id <> q.query_id
    ),
    exact5 AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine_ppm DESC, neighbor_id
            ) AS rnk
            FROM bscored
        ) WHERE rnk <= {k}
    ),
    rec AS (
        SELECT e.query_id,
               count(*) AS n_exact,
               CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_hit,
               CAST((1000000 *
                     sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END))
                    // count(*) AS BIGINT) AS recall_ppm
        FROM exact5 e
        LEFT JOIN (SELECT DISTINCT query_id, neighbor_id FROM approx) a
          ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        GROUP BY e.query_id
    )
    SELECT 'topk' AS kind, query_id, neighbor_id, cosine_ppm, rnk AS rank,
           CAST(NULL AS BIGINT) AS n_exact, CAST(NULL AS BIGINT) AS n_hit,
           CAST(NULL AS BIGINT) AS recall_ppm
    FROM approx
    UNION ALL
    SELECT 'recall' AS kind, query_id, CAST(NULL AS BIGINT) AS neighbor_id,
           CAST(NULL AS BIGINT) AS cosine_ppm, CAST(NULL AS INTEGER) AS rank,
           n_exact, n_hit, recall_ppm
    FROM rec
"""


@register(
    "knn_search",
    headline=True,
    tags=("ext-sim",),
    oracle=(
        "SELECT 'brute' AS strategy, * FROM ("
        + _COSINE_ORACLE.format(extra_join="", k=10)
        + ") UNION ALL SELECT 'ivf' AS strategy, * FROM ("
        + _COSINE_ORACLE.format(extra_join="AND c.label = q.label", k=5)
        + ")"
    ),
)
def knn_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both core similarity-search strategies in one relation (same funnel,
    one pruning knob):

    strategy='brute' — exact top-10 cosine neighbors for 8 probe vectors:
    resident probe matrix × one corpus scan (BLAS matmul per Arrow batch),
    windowed top-k. The exact baseline every ANN variant is measured
    against.
    strategy='ivf' — top-5 restricted to the query's own coarse partition
    (the `label` column = centroid assignment; nprobe=1). At scale,
    partition-pruned parquet reads replace the full scan.

    Both strategies derive from ONE scored pair relation (`knn_suite`):
    the ivf candidate set is a subset of the brute pair set, so the
    quantize + dot-product funnel runs once and both ranks ride one
    WindowExec. The nprobe=2 multiprobe extension is its own registered
    query (`knn_multiprobe`)."""
    emb = table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 8)
    return xsim.knn_suite(probes, emb, k_brute=10, k_ivf=5, partition_col="label")


#: kind='lifecycle' (r13): the PERSISTED IVF index's full lifecycle —
#: build, frozen-quantizer append (a copy of vec 2 under id 9000),
#: takedown of vec 2 — probed EXHAUSTIVELY (nprobe = k clusters), so
#: the verdict is exact cosine over the post-lifecycle corpus and
#: replayable in SQL independent of the float k-means partitioning
#: (which only routes IO when every cluster is probed).
_IVF_LIFECYCLE_ORACLE = """
    SELECT 'lifecycle' AS kind, query_id, neighbor_id, cosine_ppm,
           rnk AS rank,
           CAST(NULL AS BIGINT) AS n_exact, CAST(NULL AS BIGINT) AS n_hit,
           CAST(NULL AS BIGINT) AS recall_ppm
    FROM (
        WITH z2 AS (
            SELECT vec_id,
                   list_transform(embedding::DOUBLE[],
                                  x -> floor(x * 65536.0)) AS v
            FROM embeddings WHERE vec_id <> 2
            UNION ALL
            SELECT 9000,
                   list_transform(embedding::DOUBLE[],
                                  x -> floor(x * 65536.0))
            FROM embeddings WHERE vec_id = 2
        ),
        q2 AS (
            SELECT vec_id AS query_id, v AS qv,
                   list_dot_product(v, v) AS qn2
            FROM z2 WHERE vec_id < 4
        ),
        scored2 AS (
            SELECT q2.query_id, c.vec_id AS neighbor_id,
                   CAST(floor(1000000 * list_dot_product(q2.qv, c.v)
                         / (sqrt(q2.qn2)
                            * sqrt(list_dot_product(c.v, c.v))))
                        AS BIGINT) AS cosine_ppm
            FROM q2 JOIN z2 c ON c.vec_id <> q2.query_id
        )
        SELECT query_id, neighbor_id, cosine_ppm, rnk FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY cosine_ppm DESC, neighbor_id) AS rnk
            FROM scored2
        ) WHERE rnk <= 5
    )
"""


@register(
    "knn_multiprobe",
    tags=("ext-sim",),
    oracle=_MULTIPROBE_ORACLE.format(nprobe=2, k=5)
    + " UNION ALL "
    + _IVF_LIFECYCLE_ORACLE,
)
def knn_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiprobe IVF — the recall-vs-cost knob every production IVF
    deploys: each probe searches its TWO nearest coarse partitions
    (nprobe=2) instead of one. The centroids are DERIVED from the corpus
    as exact integer sums (`label_centroid_sums`: posexplode → per-dim
    long sums → reassemble; map-side partial aggregation keeps the shuffle
    at |labels|·dim rows per map partition, dim-agnostic). Probe-to-
    centroid ranking is engine-identical (exact-integer inputs, pinned
    IEEE op order, left-fold sum — see `multiprobe_labels`), which is what
    makes this leg hash-checkable against the SQL oracle where ordinary
    float k-means (`knn_ivf_kmeans`) is not.

    kind='topk'   — the nprobe=2 top-5 per probe (the original leg).
    kind='recall' — `ext/similarity.py:evaluate_recall` of that result
    against the exact brute-force top-5 from the SAME scored funnel: one
    row per query with (n_exact, n_hit, recall_ppm), the recall@k eval
    loop an ANN deployment tunes against — the operator's join/agg
    arithmetic driver-hashed against the oracle's independent replay
    (every metric rides top-k-sized relations, never the corpus).

    The scored funnel feeds THREE consumers (the topk leg, recall's
    approx side, recall's exact side), so it localCheckpoints — one
    corpus matmul, not three (the dedup_graph sharing pattern); the
    funnel's own plan shape stays pinned pre-checkpoint by
    tests/test_plans.py."""
    emb = table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 8)
    cent = xsim.label_centroid_sums(emb)
    mp = xsim.multiprobe_labels(probes, cent, nprobe=2)
    suite = xsim.knn_suite(
        probes, emb, k_brute=10, k_ivf=5, partition_col="label",
        probe_labels=mp, k_multi=5,
    ).localCheckpoint(eager=False)
    top = suite.filter(F.col("strategy") == "ivf2").select(
        "query_id", "neighbor_id", "cosine_ppm", "rank"
    )
    brute5 = suite.filter(
        (F.col("strategy") == "brute") & (F.col("rank") <= 5)
    ).select("query_id", "neighbor_id")
    rec = xsim.evaluate_recall(
        top, brute5, query_col="query_id", id_col="neighbor_id"
    )
    # kind='lifecycle' (r13): build the PERSISTED IVF index, append a
    # frozen-quantizer copy of vec 2 under id 9000, DELETE vec 2, and
    # search exhaustively (nprobe = k clusters) — the oracle replays
    # exact cosine over the post-lifecycle corpus, so the driver hash
    # pins that append visibility and takedown both reached the index.
    # Every step runs eagerly here, and each Spark job costs about 0.1 s
    # of scheduling whatever its size (local[4], sf0.01), so the steps
    # keep their job counts down: build trains and then assigns inside
    # its vectors write (8 jobs), append and search read the centroids
    # under a fixed schema (no inference job), the delete matches its id
    # list as an IN-list filter (4 jobs), and search joins the vectors
    # with one broadcast probe map.
    from beeper_matric_etl_tool_spark.ext.similarity_index import (
        append_ivf_index,
        build_ivf_index,
        delete_from_ivf_index,
        search_ivf,
    )

    ividx = workdir("knn_ivf_lc_")
    build_ivf_index(emb, ividx, k=4, iterations=2)
    append_ivf_index(
        emb.filter(F.col("vec_id") == 2).select(
            F.lit(9000).cast("long").alias("vec_id"), "embedding"
        ),
        ividx,
    )
    delete_from_ivf_index(spark, ividx, [2])
    # queries come from the post-lifecycle corpus: the deleted vector
    # is not a probe either (its takedown covers both roles)
    # materialized at construction like the build/append/delete it
    # follows — the registered query's plan keeps the one-funnel pin
    # (tests/test_plans.py: no parquet scan, no MapInPandas); the index
    # probe's own plan shape is pinned in the index suites
    lifecycle = search_ivf(
        spark,
        ividx,
        emb.filter((F.col("vec_id") < 4) & (F.col("vec_id") != 2)),
        k=5,
        nprobe=4,
    ).localCheckpoint(eager=True)

    nl = F.lit(None).cast("long")
    return (
        top.select(
            F.lit("topk").alias("kind"),
            "query_id",
            "neighbor_id",
            "cosine_ppm",
            "rank",
            nl.alias("n_exact"),
            nl.alias("n_hit"),
            nl.alias("recall_ppm"),
        )
        .unionByName(
            rec.select(
                F.lit("recall").alias("kind"),
                "query_id",
                nl.alias("neighbor_id"),
                nl.alias("cosine_ppm"),
                F.lit(None).cast("int").alias("rank"),
                "n_exact",
                "n_hit",
                "recall_ppm",
            )
        )
        .unionByName(
            lifecycle.select(
                F.lit("lifecycle").alias("kind"),
                "query_id",
                "neighbor_id",
                "cosine_ppm",
                "rank",
                nl.alias("n_exact"),
                nl.alias("n_hit"),
                nl.alias("recall_ppm"),
            )
        )
    )


# --------------------------------------------------------------------------
# Event-time windows
# --------------------------------------------------------------------------


@register(
    "events_time_windows",
    headline=True,
    tags=("ext-window",),
    oracle="""
        WITH e AS (
            SELECT ts, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
                   (epoch_ms(ts) // 1800000) * 1800000000 AS s0us FROM events
        ),
        t AS (
            SELECT 'tumbling' AS kind, date_trunc('hour', ts) AS window_start,
                   count(*) AS n_events,
                   CAST(sum(cents) AS BIGINT) AS total_value_cents
            FROM e GROUP BY 2
        ),
        x AS (
            SELECT make_timestamp(s0us) AS window_start, cents FROM e
            UNION ALL
            SELECT make_timestamp(s0us - 1800000000) AS window_start, cents FROM e
        ),
        s AS (
            SELECT 'sliding' AS kind, window_start, count(*) AS n_events,
                   CAST(sum(cents) AS BIGINT) AS total_value_cents
            FROM x GROUP BY window_start
        )
        SELECT * FROM t UNION ALL SELECT * FROM s
    """,
)
def events_time_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed event-time windowing, both flavors of the same F.window
    operator in one relation (the batch twin of the streaming windowed
    aggregation — same operator, same plan shape):

    kind='tumbling' — 1-hour windows, one per event;
    kind='sliding' — 1-hour length, 30-minute slide: each event lands in
    two windows; the expansion happens before the partial agg, so it is
    still a single shuffle.

    Money sums in exact integer cents (2-dp source column) — float sums
    differ across engines by aggregation order."""
    events = table(spark, sf_dir, "events")
    tum = xwin.tumbling(
        events, "ts", "1 hour",
        F.count(F.lit(1)).alias("n_events"),
        F.sum(xtext.cents("value")).alias("total_value_cents"),
    ).select(
        F.lit("tumbling").alias("kind"), "window_start", "n_events", "total_value_cents"
    )
    sli = xwin.sliding(
        events, "ts", "1 hour", "30 minutes",
        F.count(F.lit(1)).alias("n_events"),
        F.sum(xtext.cents("value")).alias("total_value_cents"),
    ).select(
        F.lit("sliding").alias("kind"), "window_start", "n_events", "total_value_cents"
    )
    return tum.unionByName(sli)


#: events_sessions' transcript leg: turn ceiling per assembled session —
#: one definition feeding both planes
TRANSCRIPT_MAX_TURNS = 5

#: the room fan-in for the ROOM-keyed transcript leg — the testdata events
#: table has no room column, so both planes derive room_id = user_id % 4
#: (deterministic, SQL-replayable); 4 rooms keeps several interleaving
#: speakers per room even at sf0.001's 15 users (16 buckets would make
#: every room single-speaker there, hollowing out the evidence)
TRANSCRIPT_ROOM_BUCKETS = 4


@register(
    "events_sessions",
    tags=("ext-window", "ext-transcripts"),
    oracle=f"""
        WITH flagged AS (
            SELECT user_id, ts, event_id,
                   'u' || user_id || ' ' || event_type || ': '
                       || coalesce(props, '') AS line,
                   CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             > INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
        ),
        numbered AS (
            SELECT user_id, ts, event_id, line,
                   sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS sess_id
            FROM flagged
        ),
        turns AS (
            SELECT *, row_number() OVER (PARTITION BY user_id, sess_id
                                         ORDER BY ts, event_id) AS rn
            FROM numbered
        ),
        sess AS (
            SELECT user_id, sess_id, min(ts) AS session_start,
                   max(ts) + INTERVAL 30 MINUTE AS session_end,
                   count(*) AS n_events,
                   count(*) FILTER (WHERE rn <= {TRANSCRIPT_MAX_TURNS})
                       AS n_turns,
                   string_agg(line, chr(10) ORDER BY ts, event_id)
                       FILTER (WHERE rn <= {TRANSCRIPT_MAX_TURNS})
                       AS transcript
            FROM turns GROUP BY user_id, sess_id
        )
        SELECT 'session' AS kind, user_id, session_start, session_end,
               n_events, CAST(NULL AS BIGINT) AS n_turns,
               CAST(NULL AS BIGINT) AS n_tokens,
               CAST(NULL AS VARCHAR) AS transcript
        FROM sess
        UNION ALL
        SELECT 'transcript', user_id, session_start, session_end,
               n_events, n_turns,
               CAST(len(str_split(transcript, ' ')) AS BIGINT),
               transcript
        FROM sess
        UNION ALL
        SELECT 'transcript_room', room_id, session_start, session_end,
               n_events, n_turns,
               CAST(len(str_split(transcript, ' ')) AS BIGINT),
               transcript
        FROM (
            SELECT room_id, sess_id, min(ts) AS session_start,
                   max(ts) + INTERVAL 30 MINUTE AS session_end,
                   count(*) AS n_events,
                   count(*) FILTER (WHERE rn <= {TRANSCRIPT_MAX_TURNS})
                       AS n_turns,
                   string_agg(line, chr(10) ORDER BY ts, event_id)
                       FILTER (WHERE rn <= {TRANSCRIPT_MAX_TURNS})
                       AS transcript
            FROM (
                SELECT *, row_number() OVER (
                           PARTITION BY room_id, sess_id
                           ORDER BY ts, event_id) AS rn
                FROM (
                    SELECT room_id, ts, event_id, line,
                           sum(new_sess) OVER (
                               PARTITION BY room_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sess_id
                    FROM (
                        SELECT user_id % {TRANSCRIPT_ROOM_BUCKETS} AS room_id,
                               ts, event_id,
                               'u' || user_id || ' ' || event_type || ': '
                                   || coalesce(props, '') AS line,
                               CASE WHEN ts - lag(ts) OVER (
                                        PARTITION BY user_id % {TRANSCRIPT_ROOM_BUCKETS}
                                        ORDER BY ts, event_id)
                                        > INTERVAL 30 MINUTE
                                    THEN 1 ELSE 0 END AS new_sess
                        FROM events
                    )
                )
            ) GROUP BY room_id, sess_id
        )
    """,
)
def events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both session surfaces over the events stream, in one relation:

    kind='session' — per-user session windows with a 30-minute
    inactivity gap (F.session_window: start = first event, end = last
    event + gap).

    kind='transcript' — the SAME sessions assembled into chat-LM
    training documents (`ext/transcripts.py:assemble_transcripts`):
    speaker-tagged turn lines in exact (ts, event_id) order, the first
    TRANSCRIPT_MAX_TURNS turns concatenated into one deterministic
    transcript string, with the token count the downstream
    packing/quota stages would see. The driver hash covers the FULL
    transcript text per session, so turn rendering, session membership,
    ordering and truncation are all pinned against the oracle's
    independent string_agg replay. The two legs derive sessionization
    independently (session_window vs lag/cumsum windows) — a green row
    is also an equivalence proof between the two session forms.

    kind='transcript_room' — the ROOM-keyed MULTI-SPEAKER form (the
    chat-LM training document; the reference's natural unit is the room
    timeline): sessionize per derived room (user_id %
    TRANSCRIPT_ROOM_BUCKETS — the testdata has no room column), keep
    per-event speaker tags, interleave turns from different senders in
    exact (ts, event_id) order. The key column slot carries the room
    id."""
    from beeper_matric_etl_tool_spark.ext.transcripts import assemble_transcripts

    events = table(spark, sf_dir, "events")
    out = xwin.sessionized(
        events, "ts", "30 minutes", ["user_id"], F.count(F.lit(1)).alias("n_events")
    )
    sess_leg = out.select(
        F.lit("session").alias("kind"),
        "user_id", "session_start", "session_end", "n_events",
        F.lit(None).cast("long").alias("n_turns"),
        F.lit(None).cast("long").alias("n_tokens"),
        F.lit(None).cast("string").alias("transcript"),
    )
    tr_leg = assemble_transcripts(
        events, max_turns=TRANSCRIPT_MAX_TURNS
    ).select(
        F.lit("transcript").alias("kind"),
        "user_id", "session_start", "session_end", "n_events",
        "n_turns", "n_tokens", "transcript",
    )
    # kind='transcript_room': the MULTI-SPEAKER room timeline — the
    # document form a chat LM actually trains on (the reference's natural
    # unit is the room: its timeline listener consumes an ordered
    # per-room event stream, reference src/app/matrix/client.ts:271-279).
    # The testdata has no room column, so both planes derive
    # room_id = user_id % TRANSCRIPT_ROOM_BUCKETS; the speaker tag stays
    # per-EVENT (turn_line on user_id) while sessionization keys on the
    # room, so turns from different senders interleave in exact
    # (ts, event_id) order and the driver hash pins that interleaving.
    from beeper_matric_etl_tool_spark.ext.transcripts import turn_line

    room_events = events.withColumn(
        "room_id",
        (F.col("user_id") % F.lit(TRANSCRIPT_ROOM_BUCKETS)).cast("long"),
    )
    room_leg = assemble_transcripts(
        room_events,
        line=turn_line(user_col="user_id"),
        user_col="room_id",
        max_turns=TRANSCRIPT_MAX_TURNS,
    ).select(
        F.lit("transcript_room").alias("kind"),
        F.col("room_id").alias("user_id"),
        "session_start", "session_end", "n_events",
        "n_turns", "n_tokens", "transcript",
    )
    return sess_leg.unionByName(tr_leg).unionByName(room_leg)


# --------------------------------------------------------------------------
# Multimodal columns
# --------------------------------------------------------------------------


#: planted perceptual-hash corpus parameters (kind='phash_pair'): docs
#: 0..47 render as 36x32 gradient BMPs — seed = doc_id % 6 picks the
#: gradient family, every second family member inverts pixel column 18
#: (the NEAR-duplicate edit). The generator's closed form
#: (ext/multimodal.py:make_gradient_bmp) is what makes the whole
#: decode→dHash→banded-pairs pipeline SQL-replayable.
PHASH_DOCS = 48
PHASH_SEEDS = 6
PHASH_W, PHASH_H = 36, 32
PHASH_MARK_COL = 18
PHASH_MAX_HAMMING = 12
PHASH_BANDS = 16

#: planted acoustic-fingerprint corpus parameters (kind='afp_pair'): the
#: phash layout transposed to audio — docs 0..47 render as 3300-frame
#: seed-sloped sawtooth WAVs (ext/multimodal.py:make_saw_wav), seed =
#: doc_id % 6 picks the slope family, every second family member halves
#: samples [1022, 1622) (the near-dup "local re-level" edit — flips
#: fingerprint bits only in the bins the window touches; measured
#: near-pair hamming 1-3, cross-family ≥ 25).
AFP_DOCS = 48
AFP_SEEDS = 6
AFP_N = 3300
AFP_EDIT = (1022, 1622)
AFP_MAX_HAMMING = 12
AFP_BANDS = 16

#: planted video-hash corpus parameters (kind='vhash_pair'): the phash
#: layout extended along TIME — docs 0..47 render as 24-frame 40x16
#: uncompressed AVIs (ext/multimodal.py:make_gradient_avi), seed =
#: doc_id % 6 picks the gradient family, every second family member
#: inverts pixel column 20 in frames [9, 18) only (the TEMPORALLY-local
#: near-dup edit — flips bits only for the 3 sampled frames inside the
#: window; measured near-pair hamming 3-8, cross-family ≥ 19).
VHASH_DOCS = 48
VHASH_SEEDS = 6
VHASH_W, VHASH_H = 40, 16
VHASH_N_FRAMES = 24
VHASH_MARK_COL = 20
VHASH_EDIT_FRAMES = (9, 18)
VHASH_MAX_HAMMING = 12
VHASH_BANDS = 16

#: planted MIXED-media curation corpus (kind='curation'): docs 0..47
#: round-robin modalities (doc_id % 3 → image/audio/video); j = doc_id//3
#: gives seed = j % 4 (4 families per modality) and variant = (j//4) % 2
#: (members alternate original/edited copies, so every family is a
#: 4-member near-dup CLIQUE: two exact copies of each form, originals and
#: edits within the modality's near threshold). Docs 48..51 are text
#: payloads ('unknown' container), 52 a below-floor 8x6 image, 53 a
#: 5-frame video the hash's decode gate dead-letters, 54 a RE-ENCODED
#: STILL — a 24-frame AVI whose every frame is the seed-0 image family's
#: pixel content (the cross_modal gate's target: its sampled-frame
#: image hashes are bit-identical to image doc 0's dHash, so the funnel
#: drops it as drop:near_dup_cross).
MC_MEDIA_DOCS = 48
MC_DOCS = 55
MC_STILL_DOC = 54

#: planted subsequence-containment corpus (kind='contain'): tracks =
#: the vhash corpus's six ORIGINALS (docs 0..5 → seeds 0..5, variant 0,
#: 24 frames each); the clip (synthetic id 900) is frames [9, 17) of
#: track 0, re-encoded as its own AVI — frame-aligned, so every clip
#: frame matches its source frame at hamming 0 and the true offset (9)
#: collects all 8 votes. The oracle re-derives EVERY track frame's
#: image-grid dHash and the clip's (t = fidx + 9) from the gradient
#: closed form and replays pairs → offset vote, so coincidental
#: low-vote offsets (if any clear min_matches at this width) are
#: replayed too, not assumed away.
CT_TRACKS = 6
CT_CLIP_ID = 900
CT_CLIP_START, CT_CLIP_END = 9, 17
CT_MAX_HAMMING = 3
CT_MIN_MATCHES = 3

#: planted landmark-containment corpus (kind='landmark', r13): tracks =
#: three quadratic-residue texture WAVs (`make_texture_wav`, seeds
#: 0..2, 2000 samples); the clip (synthetic id 901) is samples
#: [701, 2000) of track 0 — a cut at an offset NO hop divides, the
#: exact case hop-strided fingerprints provably miss (the r12 alignment
#: probe). Energy-landmark anchors move with the content, so every
#: interior clip anchor matches its source window at hamming 0 and the
#: vote on SOURCE positions lands the exact cut offset (701) with every
#: interior-anchor vote; the oracle re-derives the landmark detector
#: (first-max of |sample diff| over a ±spacing window), the 64-bit
#: energy/flux sign fingerprint and the offset vote from the closed
#: form, so the scattered low-vote coincidences the texture's linear
#: diff structure admits are replayed too, not assumed away.
LM_TRACKS = 3
LM_N = 2000
LM_CLIP_ID = 901
LM_CLIP_START, LM_CLIP_END = 701, 2000
LM_W = 66  # window_frames (33 bins of exactly 2 samples)
LM_SPACING = 8  # landmark min_spacing
LM_MAX_HAMMING = 2
LM_MIN_MATCHES = 5

#: planted VIDEO landmark corpus (kind='vlandmark', r13): two gray
#: texture AVIs (`make_texture_avi`, seeds 0..1, 24 frames); the clip
#: (synthetic id 903) is frames [7, 24) of track 0. Scene-change
#: anchors (first-max of the inter-frame change energy) move with the
#: content, so the cut is caught at its exact source frame offset (7)
#: by every interior anchor at hamming 0; the oracle re-derives the
#: energy series over the FULL pixel grid, the anchor detector, the
#: anchor frames' grid dHash and the source-position vote from the
#: closed form.
VL_TRACKS = 2
VL_W, VL_H = 40, 16
VL_N = 24
VL_CLIP_ID = 903
VL_CLIP_START = 7
VL_SPACING = 2
VL_MAX_HAMMING = 3
VL_MIN_MATCHES = 3
MC_SEEDS = 4
MC_MIN_W, MC_MIN_H = 16, 8
MC_SMALL_W, MC_SMALL_H = 8, 6
MC_SHORT_FRAMES = 5


def _bmp_nbytes(w: int, h: int) -> int:
    """Container arithmetic for the planted corpus's byte MASS (r12):
    an uncompressed 24-bpp BMP is a 54-byte header plus h rows padded to
    4-byte boundaries — the multimodal generators' exact layout, so the
    oracle's mass rows derive byte lengths structurally instead of
    calling the engine's own generators."""
    return 54 + ((w * 3 + 3) // 4 * 4) * h


def _wav_nbytes(n: int) -> int:
    """44-byte canonical RIFF/WAVE header + 2 bytes per 16-bit mono
    sample frame (make_saw_wav's layout)."""
    return 44 + 2 * n


def _avi_nbytes(w: int, h: int, n: int) -> int:
    """_encode_avi's chunk arithmetic: 224 fixed bytes (RIFF + hdrl with
    avih/strl) + one 8-byte-headed uncompressed DIB chunk per frame
    (rows padded like BMP; row bytes are 4-aligned so no odd padding)."""
    return 224 + n * (8 + ((w * 3 + 3) // 4 * 4) * h)


@register(
    "multimodal_features",
    tags=("ext-multimodal",),
    # ALL multimodal planes in one relation, as kind legs.
    # kind='manifest' — metadata plane (mime / byte_len / payload_sha256):
    # describable without ever decoding bytes — the queries a 100 TB media
    # lake answers from parquet footers + metadata columns only; plus the
    # decode plane (width / height): the stage RUNS for real (Arrow
    # mapInPandas); the driver-checked projection is its integer outputs,
    # whose contract for non-media payloads is SQL-expressible (stub dims
    # are a pure function of byte length).
    # kind='phash_pair' — image perceptual near-dup: REAL BMP bytes are
    # generated from a closed-form gradient (seed multipliers + one
    # inverted column as the near-dup edit), decoded by the real BMP
    # codec, dHashed (integer luma, NN grid), and paired through the SAME
    # pigeonhole banding as text SimHash. The oracle re-derives the 64
    # signature bits per doc from the generator's closed form and replays
    # all-pairs hamming over the planted subset — so the driver hash pins
    # the full decode→hash→band→verify pipeline, not a stub.
    # Float feature vectors stay pytest-gated (test_kernels) — numpy
    # float32 arithmetic is not reproducible in SQL.
    oracle=f"""
        WITH p AS (
            SELECT doc_id, doc_id % {PHASH_SEEDS} AS seed,
                   (doc_id // {PHASH_SEEDS}) % 2 AS variant
            FROM documents WHERE doc_id < {PHASH_DOCS}
        ),
        grid AS (
            SELECT doc_id, seed, variant, gr.r AS r, gc.c AS c,
                   least((2*gr.r + 1) * {PHASH_H} // 16, {PHASH_H - 1}) AS yi,
                   least((2*gc.c + 1) * {PHASH_W} // 18, {PHASH_W - 1}) AS xi
            FROM p, generate_series(0, 7) AS gr(r), generate_series(0, 8) AS gc(c)
        ),
        chan AS (
            SELECT doc_id, r, c, variant, xi,
                   (xi * (7 + 13*seed)) % 256 AS b0,
                   (yi * (11 + 17*seed)) % 256 AS g0,
                   ((xi + yi) * (3 + 7*seed)) % 256 AS r0
            FROM grid
        ),
        cells AS (
            SELECT doc_id, r, c,
                   299 * (CASE WHEN variant = 1 AND xi = {PHASH_MARK_COL}
                          THEN 255 - r0 ELSE r0 END)
                 + 587 * (CASE WHEN variant = 1 AND xi = {PHASH_MARK_COL}
                          THEN 255 - g0 ELSE g0 END)
                 + 114 * (CASE WHEN variant = 1 AND xi = {PHASH_MARK_COL}
                          THEN 255 - b0 ELSE b0 END) AS luma
            FROM chan
        ),
        bits AS (
            SELECT a.doc_id, a.r * 8 + a.c AS pos,
                   CASE WHEN b.luma > a.luma THEN 1 ELSE 0 END AS bit
            FROM cells a JOIN cells b
              ON b.doc_id = a.doc_id AND b.r = a.r AND b.c = a.c + 1
            WHERE a.c < 8
        ),
        ham AS (
            SELECT x.doc_id AS id_a, y.doc_id AS id_b,
                   SUM(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END) AS hamming
            FROM bits x JOIN bits y
              ON x.pos = y.pos AND x.doc_id < y.doc_id
            GROUP BY 1, 2
        ),
        afp_p AS (
            SELECT doc_id, doc_id % {AFP_SEEDS} AS seed,
                   (doc_id // {AFP_SEEDS}) % 2 AS variant
            FROM documents WHERE doc_id < {AFP_DOCS}
        ),
        afp_s AS (
            SELECT doc_id, gi.i AS i,
                   CASE WHEN variant = 1
                             AND gi.i >= {AFP_EDIT[0]} AND gi.i < {AFP_EDIT[1]}
                        THEN ((gi.i * (97 + 31*seed)) % 32768) // 2
                        ELSE (gi.i * (97 + 31*seed)) % 32768 END AS s
            FROM afp_p, generate_series(0, {AFP_N - 1}) AS gi(i)
        ),
        afp_e AS (
            SELECT doc_id, (i * 33) // {AFP_N} AS b, SUM(s * s) AS v
            FROM afp_s GROUP BY 1, 2
        ),
        afp_d AS (
            SELECT x.doc_id, (x.i * 33) // {AFP_N - 1} AS b,
                   SUM((y.s - x.s) * (y.s - x.s)) AS v
            FROM afp_s x JOIN afp_s y
              ON y.doc_id = x.doc_id AND y.i = x.i + 1
            GROUP BY 1, 2
        ),
        afp_bits AS (
            SELECT a.doc_id, a.b AS pos,
                   CASE WHEN c.v > a.v THEN 1 ELSE 0 END AS bit
            FROM afp_e a JOIN afp_e c
              ON c.doc_id = a.doc_id AND c.b = a.b + 1
            UNION ALL
            SELECT a.doc_id, 32 + a.b AS pos,
                   CASE WHEN c.v > a.v THEN 1 ELSE 0 END AS bit
            FROM afp_d a JOIN afp_d c
              ON c.doc_id = a.doc_id AND c.b = a.b + 1
        ),
        afp_ham AS (
            SELECT x.doc_id AS id_a, y.doc_id AS id_b,
                   SUM(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END) AS hamming
            FROM afp_bits x JOIN afp_bits y
              ON x.pos = y.pos AND x.doc_id < y.doc_id
            GROUP BY 1, 2
        ),
        vh_p AS (
            SELECT doc_id, doc_id % {VHASH_SEEDS} AS seed,
                   (doc_id // {VHASH_SEEDS}) % 2 AS variant
            FROM documents WHERE doc_id < {VHASH_DOCS}
        ),
        vh_grid AS (
            SELECT doc_id, seed, variant, gk.k AS k, gr.r AS r, gc.c AS c,
                   (2*gk.k + 1) * {VHASH_N_FRAMES} // 16 AS t,
                   least((2*gr.r + 1) * {VHASH_H} // 4, {VHASH_H - 1}) AS yi,
                   least((2*gc.c + 1) * {VHASH_W} // 10, {VHASH_W - 1}) AS xi
            FROM vh_p, generate_series(0, 7) AS gk(k),
                 generate_series(0, 1) AS gr(r), generate_series(0, 4) AS gc(c)
        ),
        vh_chan AS (
            SELECT doc_id, k, r, c, variant, xi, t,
                   (xi * (7 + 13*seed) + t*29) % 256 AS b0,
                   (yi * (11 + 17*seed) + t*23) % 256 AS g0,
                   ((xi + yi) * (3 + 7*seed) + t*19) % 256 AS r0
            FROM vh_grid
        ),
        vh_cells AS (
            SELECT doc_id, k, r, c,
                   299 * (CASE WHEN variant = 1 AND xi = {VHASH_MARK_COL}
                               AND t >= {VHASH_EDIT_FRAMES[0]}
                               AND t < {VHASH_EDIT_FRAMES[1]}
                          THEN 255 - r0 ELSE r0 END)
                 + 587 * (CASE WHEN variant = 1 AND xi = {VHASH_MARK_COL}
                               AND t >= {VHASH_EDIT_FRAMES[0]}
                               AND t < {VHASH_EDIT_FRAMES[1]}
                          THEN 255 - g0 ELSE g0 END)
                 + 114 * (CASE WHEN variant = 1 AND xi = {VHASH_MARK_COL}
                               AND t >= {VHASH_EDIT_FRAMES[0]}
                               AND t < {VHASH_EDIT_FRAMES[1]}
                          THEN 255 - b0 ELSE b0 END) AS luma
            FROM vh_chan
        ),
        vh_bits AS (
            SELECT a.doc_id, a.k * 8 + a.r * 4 + a.c AS pos,
                   CASE WHEN b.luma > a.luma THEN 1 ELSE 0 END AS bit
            FROM vh_cells a JOIN vh_cells b
              ON b.doc_id = a.doc_id AND b.k = a.k AND b.r = a.r
                 AND b.c = a.c + 1
            WHERE a.c < 4
        ),
        vh_ham AS (
            SELECT x.doc_id AS id_a, y.doc_id AS id_b,
                   SUM(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END) AS hamming
            FROM vh_bits x JOIN vh_bits y
              ON x.pos = y.pos AND x.doc_id < y.doc_id
            GROUP BY 1, 2
        ),
        mc_docs AS (
            SELECT doc_id, doc_id % 3 AS m,
                   (doc_id // 3) % {MC_SEEDS} AS seed,
                   ((doc_id // 3) // {MC_SEEDS}) % 2 AS variant
            FROM documents WHERE doc_id < {MC_MEDIA_DOCS}
        ),
        mc_img_cells AS (
            SELECT doc_id, r, c,
                   299 * (CASE WHEN variant = 1 AND xi = {PHASH_MARK_COL}
                          THEN 255 - ((xi + yi) * (3 + 7*seed)) % 256
                          ELSE ((xi + yi) * (3 + 7*seed)) % 256 END)
                 + 587 * (CASE WHEN variant = 1 AND xi = {PHASH_MARK_COL}
                          THEN 255 - (yi * (11 + 17*seed)) % 256
                          ELSE (yi * (11 + 17*seed)) % 256 END)
                 + 114 * (CASE WHEN variant = 1 AND xi = {PHASH_MARK_COL}
                          THEN 255 - (xi * (7 + 13*seed)) % 256
                          ELSE (xi * (7 + 13*seed)) % 256 END) AS luma
            FROM (
                SELECT doc_id, seed, variant, gr0.r AS r, gc0.c AS c,
                       least((2*gr0.r + 1) * {PHASH_H} // 16, {PHASH_H - 1}) AS yi,
                       least((2*gc0.c + 1) * {PHASH_W} // 18, {PHASH_W - 1}) AS xi
                FROM mc_docs, generate_series(0, 7) AS gr0(r),
                     generate_series(0, 8) AS gc0(c)
                WHERE m = 0
            )
        ),
        mc_img_bits AS (
            SELECT a.doc_id, a.r * 8 + a.c AS pos,
                   CASE WHEN b.luma > a.luma THEN 1 ELSE 0 END AS bit
            FROM mc_img_cells a JOIN mc_img_cells b
              ON b.doc_id = a.doc_id AND b.r = a.r AND b.c = a.c + 1
            WHERE a.c < 8
        ),
        mc_img_near AS (
            SELECT x2.doc_id AS id_a, y2.doc_id AS id_b
            FROM mc_img_bits x2 JOIN mc_img_bits y2
              ON x2.pos = y2.pos AND x2.doc_id < y2.doc_id
            GROUP BY 1, 2
            HAVING SUM(CASE WHEN x2.bit <> y2.bit THEN 1 ELSE 0 END)
                   <= {PHASH_MAX_HAMMING}
        ),
        mc_aud_s AS (
            SELECT doc_id, gi.i AS i,
                   CASE WHEN variant = 1
                             AND gi.i >= {AFP_EDIT[0]} AND gi.i < {AFP_EDIT[1]}
                        THEN ((gi.i * (97 + 31*seed)) % 32768) // 2
                        ELSE (gi.i * (97 + 31*seed)) % 32768 END AS s
            FROM mc_docs, generate_series(0, {AFP_N - 1}) AS gi(i)
            WHERE m = 1
        ),
        mc_aud_bits AS (
            SELECT a.doc_id, a.b AS pos,
                   CASE WHEN c.v > a.v THEN 1 ELSE 0 END AS bit
            FROM (SELECT doc_id, (i * 33) // {AFP_N} AS b, SUM(s * s) AS v
                  FROM mc_aud_s GROUP BY 1, 2) a
            JOIN (SELECT doc_id, (i * 33) // {AFP_N} AS b, SUM(s * s) AS v
                  FROM mc_aud_s GROUP BY 1, 2) c
              ON c.doc_id = a.doc_id AND c.b = a.b + 1
            UNION ALL
            SELECT a.doc_id, 32 + a.b AS pos,
                   CASE WHEN c.v > a.v THEN 1 ELSE 0 END AS bit
            FROM (SELECT x.doc_id, (x.i * 33) // {AFP_N - 1} AS b,
                         SUM((y.s - x.s) * (y.s - x.s)) AS v
                  FROM mc_aud_s x JOIN mc_aud_s y
                    ON y.doc_id = x.doc_id AND y.i = x.i + 1
                  GROUP BY 1, 2) a
            JOIN (SELECT x.doc_id, (x.i * 33) // {AFP_N - 1} AS b,
                         SUM((y.s - x.s) * (y.s - x.s)) AS v
                  FROM mc_aud_s x JOIN mc_aud_s y
                    ON y.doc_id = x.doc_id AND y.i = x.i + 1
                  GROUP BY 1, 2) c
              ON c.doc_id = a.doc_id AND c.b = a.b + 1
        ),
        mc_aud_near AS (
            SELECT x.doc_id AS id_a, y.doc_id AS id_b
            FROM mc_aud_bits x JOIN mc_aud_bits y
              ON x.pos = y.pos AND x.doc_id < y.doc_id
            GROUP BY 1, 2
            HAVING SUM(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END)
                   <= {AFP_MAX_HAMMING}
        ),
        mc_vid_cells AS (
            SELECT doc_id, k, r, c,
                   299 * (CASE WHEN variant = 1 AND xi = {VHASH_MARK_COL}
                               AND t >= {VHASH_EDIT_FRAMES[0]}
                               AND t < {VHASH_EDIT_FRAMES[1]}
                          THEN 255 - ((xi + yi) * (3 + 7*seed) + t*19) % 256
                          ELSE ((xi + yi) * (3 + 7*seed) + t*19) % 256 END)
                 + 587 * (CASE WHEN variant = 1 AND xi = {VHASH_MARK_COL}
                               AND t >= {VHASH_EDIT_FRAMES[0]}
                               AND t < {VHASH_EDIT_FRAMES[1]}
                          THEN 255 - (yi * (11 + 17*seed) + t*23) % 256
                          ELSE (yi * (11 + 17*seed) + t*23) % 256 END)
                 + 114 * (CASE WHEN variant = 1 AND xi = {VHASH_MARK_COL}
                               AND t >= {VHASH_EDIT_FRAMES[0]}
                               AND t < {VHASH_EDIT_FRAMES[1]}
                          THEN 255 - (xi * (7 + 13*seed) + t*29) % 256
                          ELSE (xi * (7 + 13*seed) + t*29) % 256 END) AS luma
            FROM (
                SELECT doc_id, seed, variant, gk.k AS k, gr.r AS r, gc.c AS c,
                       (2*gk.k + 1) * {VHASH_N_FRAMES} // 16 AS t,
                       least((2*gr.r + 1) * {VHASH_H} // 4, {VHASH_H - 1}) AS yi,
                       least((2*gc.c + 1) * {VHASH_W} // 10, {VHASH_W - 1}) AS xi
                FROM mc_docs, generate_series(0, 7) AS gk(k),
                     generate_series(0, 1) AS gr(r), generate_series(0, 4) AS gc(c)
                WHERE m = 2
            )
        ),
        mc_vid_bits AS (
            SELECT a.doc_id, a.k * 8 + a.r * 4 + a.c AS pos,
                   CASE WHEN b.luma > a.luma THEN 1 ELSE 0 END AS bit
            FROM mc_vid_cells a JOIN mc_vid_cells b
              ON b.doc_id = a.doc_id AND b.k = a.k AND b.r = a.r
                 AND b.c = a.c + 1
            WHERE a.c < 4
        ),
        -- the RE-ENCODED STILL (doc 54): 24 identical frames of the
        -- seed-0 image family's gradient at image dims -> its video-plane
        -- signature is the static gradient's 2x5 dHash repeated per
        -- sampled frame (t contributes nothing)
        mc54_vid_cells AS (
            SELECT gk.k AS k, gr.r AS r, gc.c AS c,
                   299 * (((least((2*gc.c + 1) * {PHASH_W} // 10, {PHASH_W - 1})
                          + least((2*gr.r + 1) * {PHASH_H} // 4, {PHASH_H - 1}))
                          * 3) % 256)
                 + 587 * ((least((2*gr.r + 1) * {PHASH_H} // 4, {PHASH_H - 1})
                          * 11) % 256)
                 + 114 * ((least((2*gc.c + 1) * {PHASH_W} // 10, {PHASH_W - 1})
                          * 7) % 256) AS luma
            FROM generate_series(0, 7) AS gk(k),
                 generate_series(0, 1) AS gr(r), generate_series(0, 4) AS gc(c)
        ),
        mc54_vid_bits AS (
            SELECT CAST({MC_STILL_DOC} AS BIGINT) AS doc_id,
                   a.k * 8 + a.r * 4 + a.c AS pos,
                   CASE WHEN b.luma > a.luma THEN 1 ELSE 0 END AS bit
            FROM mc54_vid_cells a JOIN mc54_vid_cells b
              ON b.k = a.k AND b.r = a.r AND b.c = a.c + 1
            WHERE a.c < 4
        ),
        mc_vid_all AS (
            SELECT doc_id, pos, bit FROM mc_vid_bits
            UNION ALL SELECT doc_id, pos, bit FROM mc54_vid_bits
        ),
        mc_vid_near AS (
            SELECT x2.doc_id AS id_a, y2.doc_id AS id_b
            FROM mc_vid_all x2 JOIN mc_vid_all y2
              ON x2.pos = y2.pos AND x2.doc_id < y2.doc_id
            GROUP BY 1, 2
            HAVING SUM(CASE WHEN x2.bit <> y2.bit THEN 1 ELSE 0 END)
                   <= {VHASH_MAX_HAMMING}
        ),
        -- cross-modality gate replay: every video's sampled frames, each
        -- hashed on the IMAGE plane's 8x9 grid over the frame's own dims
        -- (the fused stage's frame_bits), vs every floor-surviving image
        mc_frame_lum AS (
            SELECT doc_id, k, r, c,
                   299 * (CASE WHEN edit = 1 THEN 255 - r0 ELSE r0 END)
                 + 587 * (CASE WHEN edit = 1 THEN 255 - g0 ELSE g0 END)
                 + 114 * (CASE WHEN edit = 1 THEN 255 - b0 ELSE b0 END) AS luma
            FROM (
                SELECT doc_id, k, r, c,
                       (xi * (7 + 13*seed) + t*29) % 256 AS b0,
                       (yi * (11 + 17*seed) + t*23) % 256 AS g0,
                       ((xi + yi) * (3 + 7*seed) + t*19) % 256 AS r0,
                       CASE WHEN variant = 1 AND xi = {VHASH_MARK_COL}
                                 AND t >= {VHASH_EDIT_FRAMES[0]}
                                 AND t < {VHASH_EDIT_FRAMES[1]}
                            THEN 1 ELSE 0 END AS edit
                FROM (
                    SELECT doc_id, seed, variant, gk.k AS k,
                           gr.r AS r, gc.c AS c,
                           (2*gk.k + 1) * {VHASH_N_FRAMES} // 16 AS t,
                           least((2*gr.r + 1) * {VHASH_H} // 16,
                                 {VHASH_H - 1}) AS yi,
                           least((2*gc.c + 1) * {VHASH_W} // 18,
                                 {VHASH_W - 1}) AS xi
                    FROM mc_docs, generate_series(0, 7) AS gk(k),
                         generate_series(0, 7) AS gr(r),
                         generate_series(0, 8) AS gc(c)
                    WHERE m = 2
                )
            )
        ),
        mc_frame_bits AS (
            SELECT a.doc_id, a.k, a.r * 8 + a.c AS pos,
                   CASE WHEN b.luma > a.luma THEN 1 ELSE 0 END AS bit
            FROM mc_frame_lum a JOIN mc_frame_lum b
              ON b.doc_id = a.doc_id AND b.k = a.k AND b.r = a.r
                 AND b.c = a.c + 1
            WHERE a.c < 8
            UNION ALL
            -- doc 54's frames are ALL the seed-0 original image: its
            -- frame hash IS that image's dHash (one frame suffices for
            -- the ANY-frame gate)
            SELECT CAST({MC_STILL_DOC} AS BIGINT) AS doc_id, 0 AS k, pos, bit
            FROM bits WHERE doc_id = 0
        ),
        mc_cross AS (
            SELECT DISTINCT doc_id FROM (
                SELECT x.doc_id
                FROM mc_frame_bits x JOIN mc_img_bits y ON y.pos = x.pos
                GROUP BY x.doc_id, x.k, y.doc_id
                HAVING SUM(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END)
                       <= {PHASH_MAX_HAMMING}
            )
        ),
        mc_near AS (
            SELECT id_a, id_b FROM mc_img_near
            UNION ALL SELECT id_a, id_b FROM mc_aud_near
            UNION ALL SELECT id_a, id_b FROM mc_vid_near
        ),
        mc_curation AS (
            -- planted families are CLIQUES, so the component minimum is
            -- the smallest incident pair id (id_a < id_b by construction);
            -- within-modality decisions take precedence over the cross
            -- gate (only keeps demote to drop:near_dup_cross)
            SELECT d.doc_id,
                   CASE d.m WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                            ELSE 'video' END AS modality,
                   coalesce(min(p.id_a), d.doc_id) AS cluster_id,
                   CASE WHEN min(p.id_a) IS NOT NULL THEN 'drop:near_dup'
                        WHEN max(x.doc_id) IS NOT NULL
                            THEN 'drop:near_dup_cross'
                        ELSE 'keep' END AS decision,
                   CASE WHEN d.m = 0 THEN {PHASH_W}
                        WHEN d.m = 2 THEN {VHASH_W} END AS width,
                   CASE WHEN d.m = 0 THEN {PHASH_H}
                        WHEN d.m = 2 THEN {VHASH_H} END AS height
            FROM mc_docs d
            LEFT JOIN mc_near p ON p.id_b = d.doc_id
            LEFT JOIN mc_cross x ON x.doc_id = d.doc_id
            GROUP BY d.doc_id, d.m
        ),
        -- the FULL decisions relation (planted media + extras + the
        -- re-encoded still), shared by the curation leg and the
        -- media_report rollup so the two can never drift
        mc_final AS (
            -- n_frames / n_bytes are the MASS columns (r12): frames from
            -- the planted durations, bytes from container arithmetic
            -- (_bmp_nbytes/_wav_nbytes/_avi_nbytes — the generators'
            -- exact header + padded-row layout)
            SELECT doc_id, modality, cluster_id, decision, width, height,
                   CASE modality WHEN 'audio' THEN {AFP_N}
                        WHEN 'video' THEN {VHASH_N_FRAMES} END AS n_frames,
                   CASE modality
                        WHEN 'image' THEN {_bmp_nbytes(PHASH_W, PHASH_H)}
                        WHEN 'audio' THEN {_wav_nbytes(AFP_N)}
                        ELSE {_avi_nbytes(VHASH_W, VHASH_H, VHASH_N_FRAMES)}
                   END AS n_bytes
            FROM mc_curation
            UNION ALL
            SELECT doc_id, 'unknown', CAST(NULL AS BIGINT),
                   'drop:undecodable', CAST(NULL AS INTEGER),
                   CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
                   octet_length(encode('text payload ' || CAST(doc_id AS VARCHAR)))
            FROM documents
            WHERE doc_id >= {MC_MEDIA_DOCS} AND doc_id < {MC_MEDIA_DOCS + 4}
            UNION ALL
            SELECT doc_id, 'image', CAST(NULL AS BIGINT),
                   'drop:below_floor', {MC_SMALL_W}, {MC_SMALL_H},
                   CAST(NULL AS INTEGER),
                   {_bmp_nbytes(MC_SMALL_W, MC_SMALL_H)}
            FROM documents WHERE doc_id = {MC_MEDIA_DOCS + 4}
            UNION ALL
            SELECT doc_id, 'video', CAST(NULL AS BIGINT),
                   'drop:undecodable', CAST(NULL AS INTEGER),
                   CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
                   {_avi_nbytes(VHASH_W, VHASH_H, MC_SHORT_FRAMES)}
            FROM documents WHERE doc_id = {MC_MEDIA_DOCS + 5}
            UNION ALL
            -- the re-encoded still: full replay — within-video pairs
            -- take precedence, else the cross gate (its frame hash
            -- equals image doc 0's dHash, hamming 0)
            SELECT d.doc_id, 'video',
                   CAST(coalesce(p54.cid, {MC_STILL_DOC}) AS BIGINT),
                   CASE WHEN p54.cid IS NOT NULL THEN 'drop:near_dup'
                        WHEN d.doc_id IN (SELECT doc_id FROM mc_cross)
                            THEN 'drop:near_dup_cross'
                        ELSE 'keep' END,
                   {PHASH_W}, {PHASH_H}, {VHASH_N_FRAMES},
                   {_avi_nbytes(PHASH_W, PHASH_H, VHASH_N_FRAMES)}
            FROM documents d LEFT JOIN (
                SELECT id_b, min(id_a) AS cid FROM mc_near
                WHERE id_b = {MC_STILL_DOC} GROUP BY 1
            ) p54 ON p54.id_b = d.doc_id
            WHERE d.doc_id = {MC_STILL_DOC}
        ),
        -- subsequence containment (kind='contain'): EVERY frame of the
        -- six planted tracks hashed on the image grid from the gradient
        -- closed form; the clip's frames are track 0's [9, 17), so its
        -- bits come from the same CTE — pairs within the radius, then
        -- the temporal-consistency offset vote, replayed exactly
        ct_lum AS (
            SELECT doc_id, t, r, c,
                   299 * (((xi + yi) * (3 + 7*seed) + t*19) % 256)
                 + 587 * ((yi * (11 + 17*seed) + t*23) % 256)
                 + 114 * ((xi * (7 + 13*seed) + t*29) % 256) AS luma
            FROM (
                SELECT d.doc_id, d.doc_id AS seed, gt.t AS t,
                       gr.r AS r, gc.c AS c,
                       least((2*gr.r + 1) * {VHASH_H} // 16,
                             {VHASH_H - 1}) AS yi,
                       least((2*gc.c + 1) * {VHASH_W} // 18,
                             {VHASH_W - 1}) AS xi
                FROM documents d,
                     generate_series(0, {VHASH_N_FRAMES - 1}) AS gt(t),
                     generate_series(0, 7) AS gr(r),
                     generate_series(0, 8) AS gc(c)
                WHERE d.doc_id < {CT_TRACKS}
            )
        ),
        ct_bits AS (
            SELECT a.doc_id, a.t, a.r * 8 + a.c AS pos,
                   CASE WHEN b.luma > a.luma THEN 1 ELSE 0 END AS bit
            FROM ct_lum a JOIN ct_lum b
              ON b.doc_id = a.doc_id AND b.t = a.t AND b.r = a.r
                 AND b.c = a.c + 1
            WHERE a.c < 8
        ),
        ct_pairs AS (
            SELECT y.doc_id AS track_id,
                   x.t - {CT_CLIP_START} AS clip_idx, y.t AS track_idx,
                   SUM(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END) AS hamming
            FROM ct_bits x JOIN ct_bits y ON x.pos = y.pos
            WHERE x.doc_id = 0 AND x.t >= {CT_CLIP_START}
              AND x.t < {CT_CLIP_END}
            GROUP BY 1, 2, 3
            HAVING SUM(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END)
                   <= {CT_MAX_HAMMING}
        ),
        ct_vote AS (
            SELECT track_id, track_idx - clip_idx AS t_off,
                   COUNT(*) AS n_matched, MAX(hamming) AS max_unit_hamming
            FROM ct_pairs
            GROUP BY 1, 2
            HAVING COUNT(*) >= {CT_MIN_MATCHES}
        ),
        -- landmark containment (kind='landmark', r13): the texture
        -- corpus's samples, |sample diff| series, first-max anchors
        -- (± spacing window, earliest-max tie rule), per-window 64-bit
        -- energy/flux sign fingerprints and the SOURCE-position offset
        -- vote, all re-derived from the closed form
        -- s[i] = (31·i² + (17·seed + 7)·i) mod 2003
        lm_s AS (
            SELECT d.doc_id AS track_id, gi.i AS i,
                   (31 * gi.i * gi.i + (17 * d.doc_id + 7) * gi.i)
                   % 2003 AS s
            FROM documents d, generate_series(0, {LM_N - 1}) AS gi(i)
            WHERE d.doc_id < {LM_TRACKS}
        ),
        lm_d AS (
            SELECT a.track_id, a.i AS q, abs(b.s - a.s) AS dv
            FROM lm_s a JOIN lm_s b
              ON b.track_id = a.track_id AND b.i = a.i + 1
        ),
        lm_anchor AS (
            SELECT track_id, q FROM (
                SELECT track_id, q, dv,
                       MAX(dv) OVER (PARTITION BY track_id ORDER BY q
                           ROWS BETWEEN {LM_SPACING} PRECEDING
                           AND 1 PRECEDING) AS pmax,
                       MAX(dv) OVER (PARTITION BY track_id ORDER BY q
                           ROWS BETWEEN 1 FOLLOWING
                           AND {LM_SPACING} FOLLOWING) AS nmax
                FROM lm_d
            ) WHERE (pmax IS NULL OR pmax < dv)
              AND (nmax IS NULL OR nmax <= dv)
              AND q + {LM_W} <= {LM_N}
        ),
        -- the clip is track 0's samples [{LM_CLIP_START}, {LM_CLIP_END}):
        -- the SAME diff rows re-indexed to clip positions, re-anchored
        -- with clip-LOCAL windows (boundary anchors may differ — the
        -- landmark honesty contract; they are replayed, not patched)
        lmc_d AS (
            SELECT q - {LM_CLIP_START} AS q, dv FROM lm_d
            WHERE track_id = 0 AND q >= {LM_CLIP_START}
              AND q < {LM_CLIP_END - 1}
        ),
        lmc_anchor AS (
            SELECT q FROM (
                SELECT q, dv,
                       MAX(dv) OVER (ORDER BY q
                           ROWS BETWEEN {LM_SPACING} PRECEDING
                           AND 1 PRECEDING) AS pmax,
                       MAX(dv) OVER (ORDER BY q
                           ROWS BETWEEN 1 FOLLOWING
                           AND {LM_SPACING} FOLLOWING) AS nmax
                FROM lmc_d
            ) WHERE (pmax IS NULL OR pmax < dv)
              AND (nmax IS NULL OR nmax <= dv)
              AND q + {LM_W} <= {LM_CLIP_END - LM_CLIP_START}
        ),
        lm_win AS (
            SELECT a.track_id, a.q, gj.j, s.s AS v
            FROM lm_anchor a
            CROSS JOIN generate_series(0, {LM_W - 1}) AS gj(j)
            JOIN lm_s s ON s.track_id = a.track_id AND s.i = a.q + gj.j
        ),
        lmc_win AS (
            SELECT a.q, gj.j, s.s AS v
            FROM lmc_anchor a
            CROSS JOIN generate_series(0, {LM_W - 1}) AS gj(j)
            JOIN lm_s s ON s.track_id = 0
                 AND s.i = {LM_CLIP_START} + a.q + gj.j
        ),
        -- 33 energy bins (bin(j) = j·33 // W — the engine's exact
        -- integer rule) over s², 33 flux bins over (Δs)²; bits are the
        -- 32 + 32 adjacent-bin sign comparisons
        lm_e AS (
            SELECT track_id, q, j * 33 // {LM_W} AS k, SUM(v * v) AS e
            FROM lm_win GROUP BY 1, 2, 3
        ),
        lm_f AS (
            SELECT x.track_id, x.q, x.j * 33 // {LM_W - 1} AS k,
                   SUM((y.v - x.v) * (y.v - x.v)) AS e
            FROM lm_win x JOIN lm_win y
              ON y.track_id = x.track_id AND y.q = x.q AND y.j = x.j + 1
            GROUP BY 1, 2, 3
        ),
        lmc_e AS (
            SELECT q, j * 33 // {LM_W} AS k, SUM(v * v) AS e
            FROM lmc_win GROUP BY 1, 2
        ),
        lmc_f AS (
            SELECT x.q, x.j * 33 // {LM_W - 1} AS k,
                   SUM((y.v - x.v) * (y.v - x.v)) AS e
            FROM lmc_win x JOIN lmc_win y ON y.q = x.q AND y.j = x.j + 1
            GROUP BY 1, 2
        ),
        lm_bits AS (
            SELECT a.track_id, a.q, a.k AS pos,
                   CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS bit
            FROM lm_e a JOIN lm_e b
              ON b.track_id = a.track_id AND b.q = a.q AND b.k = a.k + 1
            UNION ALL
            SELECT a.track_id, a.q, 32 + a.k,
                   CASE WHEN b.e > a.e THEN 1 ELSE 0 END
            FROM lm_f a JOIN lm_f b
              ON b.track_id = a.track_id AND b.q = a.q AND b.k = a.k + 1
        ),
        lmc_bits AS (
            SELECT a.q, a.k AS pos,
                   CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS bit
            FROM lmc_e a JOIN lmc_e b ON b.q = a.q AND b.k = a.k + 1
            UNION ALL
            SELECT a.q, 32 + a.k, CASE WHEN b.e > a.e THEN 1 ELSE 0 END
            FROM lmc_f a JOIN lmc_f b ON b.q = a.q AND b.k = a.k + 1
        ),
        lm_pairs AS (
            SELECT y.track_id, x.q AS cq, y.q AS tq,
                   SUM(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END)
                   AS hamming
            FROM lmc_bits x JOIN lm_bits y ON x.pos = y.pos
            GROUP BY 1, 2, 3
            HAVING SUM(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END)
                   <= {LM_MAX_HAMMING}
        ),
        lm_vote AS (
            SELECT track_id, tq - cq AS t_off, COUNT(*) AS n_matched,
                   MAX(hamming) AS max_unit_hamming
            FROM lm_pairs GROUP BY 1, 2
            HAVING COUNT(*) >= {LM_MIN_MATCHES}
        ),
        -- VIDEO landmark containment (kind='vlandmark', r13): gray
        -- texture V(g,t) = ((g + t)·(7 + 13·seed + 5·t)) mod 251 over
        -- the full pixel grid g = x + y·W; inter-frame change energy
        -- 3·Σ|ΔV| (three equal channels), first-max anchors at ±spacing
        -- (anchor = the first frame AFTER the peak), anchor-frame grid
        -- dHash (gray ⇒ luma comparisons reduce to V comparisons) and
        -- the source-frame offset vote — all replayed
        vl_v AS (
            SELECT d.doc_id AS track_id, gt.t AS t, gg.g AS g,
                   ((gg.g + gt.t) * (7 + 13 * d.doc_id + 5 * gt.t))
                   % 251 AS v
            FROM documents d,
                 generate_series(0, {VL_N - 1}) AS gt(t),
                 generate_series(0, {VL_W * VL_H - 1}) AS gg(g)
            WHERE d.doc_id < {VL_TRACKS}
        ),
        vl_d AS (
            SELECT a.track_id, a.t AS q, 3 * SUM(abs(b.v - a.v)) AS dv
            FROM vl_v a JOIN vl_v b
              ON b.track_id = a.track_id AND b.g = a.g AND b.t = a.t + 1
            GROUP BY 1, 2
        ),
        vl_anchor AS (
            SELECT track_id, q + 1 AS anchor FROM (
                SELECT track_id, q, dv,
                       MAX(dv) OVER (PARTITION BY track_id ORDER BY q
                           ROWS BETWEEN {VL_SPACING} PRECEDING
                           AND 1 PRECEDING) AS pmax,
                       MAX(dv) OVER (PARTITION BY track_id ORDER BY q
                           ROWS BETWEEN 1 FOLLOWING
                           AND {VL_SPACING} FOLLOWING) AS nmax
                FROM vl_d
            ) WHERE (pmax IS NULL OR pmax < dv)
              AND (nmax IS NULL OR nmax <= dv)
        ),
        vlc_d AS (
            SELECT q - {VL_CLIP_START} AS q, dv FROM vl_d
            WHERE track_id = 0 AND q >= {VL_CLIP_START}
        ),
        vlc_anchor AS (
            SELECT q + 1 AS anchor FROM (
                SELECT q, dv,
                       MAX(dv) OVER (ORDER BY q
                           ROWS BETWEEN {VL_SPACING} PRECEDING
                           AND 1 PRECEDING) AS pmax,
                       MAX(dv) OVER (ORDER BY q
                           ROWS BETWEEN 1 FOLLOWING
                           AND {VL_SPACING} FOLLOWING) AS nmax
                FROM vlc_d
            ) WHERE (pmax IS NULL OR pmax < dv)
              AND (nmax IS NULL OR nmax <= dv)
        ),
        vl_cell AS (
            SELECT a.track_id, a.anchor, gr.r AS r, gc.c AS c,
                   least((2*gr.r + 1) * {VL_H} // 16, {VL_H - 1})
                   * {VL_W}
                   + least((2*gc.c + 1) * {VL_W} // 18, {VL_W - 1}) AS g
            FROM vl_anchor a
            CROSS JOIN generate_series(0, 7) AS gr(r)
            CROSS JOIN generate_series(0, 8) AS gc(c)
        ),
        vl_bits AS (
            SELECT x.track_id, x.anchor, x.r * 8 + x.c AS pos,
                   CASE WHEN bv.v > av.v THEN 1 ELSE 0 END AS bit
            FROM vl_cell x
            JOIN vl_cell y ON y.track_id = x.track_id
                 AND y.anchor = x.anchor AND y.r = x.r AND y.c = x.c + 1
            JOIN vl_v av ON av.track_id = x.track_id
                 AND av.t = x.anchor AND av.g = x.g
            JOIN vl_v bv ON bv.track_id = x.track_id
                 AND bv.t = x.anchor AND bv.g = y.g
            WHERE x.c < 8
        ),
        vlc_cell AS (
            SELECT a.anchor, gr.r AS r, gc.c AS c,
                   least((2*gr.r + 1) * {VL_H} // 16, {VL_H - 1})
                   * {VL_W}
                   + least((2*gc.c + 1) * {VL_W} // 18, {VL_W - 1}) AS g
            FROM vlc_anchor a
            CROSS JOIN generate_series(0, 7) AS gr(r)
            CROSS JOIN generate_series(0, 8) AS gc(c)
        ),
        vlc_bits AS (
            SELECT x.anchor, x.r * 8 + x.c AS pos,
                   CASE WHEN bv.v > av.v THEN 1 ELSE 0 END AS bit
            FROM vlc_cell x
            JOIN vlc_cell y ON y.anchor = x.anchor AND y.r = x.r
                 AND y.c = x.c + 1
            JOIN vl_v av ON av.track_id = 0
                 AND av.t = {VL_CLIP_START} + x.anchor AND av.g = x.g
            JOIN vl_v bv ON bv.track_id = 0
                 AND bv.t = {VL_CLIP_START} + x.anchor AND bv.g = y.g
            WHERE x.c < 8
        ),
        vl_pairs AS (
            SELECT y.track_id, x.anchor AS ca, y.anchor AS ta,
                   SUM(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END)
                   AS hamming
            FROM vlc_bits x JOIN vl_bits y ON x.pos = y.pos
            GROUP BY 1, 2, 3
            HAVING SUM(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END)
                   <= {VL_MAX_HAMMING}
        ),
        vl_vote AS (
            SELECT track_id, ta - ca AS t_off, COUNT(*) AS n_matched,
                   MAX(hamming) AS max_unit_hamming
            FROM vl_pairs GROUP BY 1, 2
            HAVING COUNT(*) >= {VL_MIN_MATCHES}
        ),
        srch_ranked AS (
            SELECT id_a, id_b, hamming,
                   ROW_NUMBER() OVER (PARTITION BY id_a
                                      ORDER BY hamming, id_b) AS rnk
            FROM (
                SELECT x.doc_id AS id_a, y.doc_id AS id_b,
                       SUM(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END) AS hamming
                FROM bits x JOIN bits y ON x.pos = y.pos
                WHERE x.doc_id < {PHASH_SEEDS} AND y.doc_id >= {PHASH_SEEDS}
                GROUP BY 1, 2
            ) WHERE hamming <= {PHASH_MAX_HAMMING}
        )
        SELECT 'manifest' AS kind, doc_id AS id_a, CAST(NULL AS BIGINT) AS id_b,
               'application/octet-stream' AS mime,
               octet_length(encode(text)) AS byte_len,
               sha256(text) AS payload_sha256,
               CAST(octet_length(encode(text)) % 640 + 1 AS INTEGER) AS width,
               CAST(octet_length(encode(text)) % 480 + 1 AS INTEGER) AS height,
               CAST(NULL AS BIGINT) AS hamming
        FROM documents
        UNION ALL
        SELECT 'phash_pair' AS kind, id_a, id_b,
               CAST(NULL AS VARCHAR) AS mime, CAST(NULL AS BIGINT) AS byte_len,
               CAST(NULL AS VARCHAR) AS payload_sha256,
               CAST(NULL AS INTEGER) AS width, CAST(NULL AS INTEGER) AS height,
               CAST(hamming AS BIGINT) AS hamming
        FROM ham WHERE hamming <= {PHASH_MAX_HAMMING}
        UNION ALL
        SELECT 'afp_pair' AS kind, id_a, id_b,
               CAST(NULL AS VARCHAR) AS mime, CAST(NULL AS BIGINT) AS byte_len,
               CAST(NULL AS VARCHAR) AS payload_sha256,
               CAST(NULL AS INTEGER) AS width, CAST(NULL AS INTEGER) AS height,
               CAST(hamming AS BIGINT) AS hamming
        FROM afp_ham WHERE hamming <= {AFP_MAX_HAMMING}
        UNION ALL
        SELECT 'vhash_pair' AS kind, id_a, id_b,
               CAST(NULL AS VARCHAR) AS mime, CAST(NULL AS BIGINT) AS byte_len,
               CAST(NULL AS VARCHAR) AS payload_sha256,
               CAST(NULL AS INTEGER) AS width, CAST(NULL AS INTEGER) AS height,
               CAST(hamming AS BIGINT) AS hamming
        FROM vh_ham WHERE hamming <= {VHASH_MAX_HAMMING}
        UNION ALL
        SELECT 'curation' AS kind, doc_id AS id_a, cluster_id AS id_b,
               modality AS mime, CAST(n_bytes AS BIGINT) AS byte_len,
               decision AS payload_sha256,
               CAST(width AS INTEGER) AS width, CAST(height AS INTEGER) AS height,
               CAST(NULL AS BIGINT) AS hamming
        FROM mc_final
        UNION ALL
        -- kind='report': the media data card — media_report's rollup of
        -- the same decisions relation (per-modality decision counts +
        -- cluster-size histogram + the r12 MASS axis in bytes / pixels
        -- / frames), replayed off mc_final
        SELECT 'report', CAST(n AS BIGINT), CAST(NULL AS BIGINT), modality,
               CAST(NULL AS BIGINT), metric || ':' || bucket,
               CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
               CAST(NULL AS BIGINT)
        FROM (
            SELECT modality, 'decision' AS metric, decision AS bucket,
                   COUNT(*) AS n
            FROM mc_final GROUP BY 1, 3
            UNION ALL
            SELECT modality, 'cluster_size', CAST(sz AS VARCHAR), COUNT(*)
            FROM (
                SELECT modality, cluster_id, COUNT(*) AS sz
                FROM mc_final WHERE cluster_id IS NOT NULL GROUP BY 1, 2
            ) GROUP BY 1, 3
            UNION ALL
            SELECT modality, 'mass_bytes', decision, SUM(n_bytes)
            FROM mc_final WHERE n_bytes IS NOT NULL GROUP BY 1, 3
            UNION ALL
            SELECT modality, 'mass_frames', decision, SUM(n_frames)
            FROM mc_final WHERE n_frames IS NOT NULL GROUP BY 1, 3
            UNION ALL
            SELECT modality, 'mass_pixels', decision,
                   SUM(CAST(width AS BIGINT) * height * coalesce(n_frames, 1))
            FROM mc_final WHERE width IS NOT NULL GROUP BY 1, 3
        )
        UNION ALL
        SELECT 'search' AS kind, id_a, id_b, 'image' AS mime,
               CAST(NULL AS BIGINT) AS byte_len,
               CAST(NULL AS VARCHAR) AS payload_sha256,
               CAST(rnk AS INTEGER) AS width, CAST(NULL AS INTEGER) AS height,
               CAST(hamming AS BIGINT) AS hamming
        FROM srch_ranked WHERE rnk <= 3
        UNION ALL
        -- kind='recall': evaluate_recall of the BANDED retrieval vs the
        -- brute-force exact top-k — the pigeonhole guarantee graded, not
        -- assumed: n_hit = n_exact and recall_ppm = 1e6 per probe, and
        -- the oracle derives n_exact from the closed-form ground truth
        SELECT 'recall', id_a, CAST(n AS BIGINT), 'image',
               CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
               CAST(n AS INTEGER), CAST(NULL AS INTEGER),
               CAST(1000000 AS BIGINT)
        FROM (
            SELECT id_a, COUNT(*) AS n FROM srch_ranked
            WHERE rnk <= 3 GROUP BY 1
        )
        UNION ALL
        SELECT 'contain', CAST({CT_CLIP_ID} AS BIGINT),
               CAST(track_id AS BIGINT), 'video',
               CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
               CAST(t_off AS INTEGER), CAST(n_matched AS INTEGER),
               CAST(max_unit_hamming AS BIGINT)
        FROM ct_vote
        UNION ALL
        -- kind='contain_idx' (r13): the persisted-index probe must land
        -- the EXACT verdicts of the batch core — same closed-form
        -- replay, different kind literal, so a drift between the index
        -- lifecycle (build/persist/probe) and the one driver-oracled
        -- engine hash-mismatches here
        SELECT 'contain_idx', CAST({CT_CLIP_ID} AS BIGINT),
               CAST(track_id AS BIGINT), 'video',
               CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
               CAST(t_off AS INTEGER), CAST(n_matched AS INTEGER),
               CAST(max_unit_hamming AS BIGINT)
        FROM ct_vote
        UNION ALL
        -- kind='contain_del' (r13): the takedown cascade — after track
        -- 0's units are DELETED from the persisted index, clip 900
        -- (cut from track 0) finds nothing and clip 902 (cut from
        -- track 1) still lands exactly: the same closed-form pairs →
        -- offset vote replayed over the post-deletion track set
        SELECT 'contain_del',
               CAST({CT_CLIP_ID} + clip_src * 2 AS BIGINT),
               CAST(track_id AS BIGINT), 'video',
               CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
               CAST(t_off AS INTEGER), CAST(n_matched AS INTEGER),
               CAST(max_unit_hamming AS BIGINT)
        FROM (
            SELECT clip_src, track_id, track_idx - clip_idx AS t_off,
                   COUNT(*) AS n_matched, MAX(hamming) AS max_unit_hamming
            FROM (
                SELECT x.doc_id AS clip_src, y.doc_id AS track_id,
                       x.t - {CT_CLIP_START} AS clip_idx, y.t AS track_idx,
                       SUM(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END)
                       AS hamming
                FROM ct_bits x JOIN ct_bits y ON x.pos = y.pos
                WHERE x.doc_id IN (0, 1) AND y.doc_id <> 0
                  AND x.t >= {CT_CLIP_START} AND x.t < {CT_CLIP_END}
                GROUP BY 1, 2, 3, 4
                HAVING SUM(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END)
                       <= {CT_MAX_HAMMING}
            )
            GROUP BY 1, 2, 3
            HAVING COUNT(*) >= {CT_MIN_MATCHES}
        )
        UNION ALL
        -- kind='png_pair' (r13): the in-tree PNG codec's pixels are
        -- bit-identical to the BMP twins', so its dHash distances
        -- replay from the same bits CTE — twin pairs at 0 (content
        -- identity across containers), the cross pair at the planted
        -- edit distance
        SELECT 'png_pair', CAST(id_a AS BIGINT), CAST(id_b AS BIGINT),
               'image/png', CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
               CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
               CAST(hamming AS BIGINT)
        FROM (
            SELECT 0 AS id_a, 910 AS id_b, 0 AS hamming
            UNION ALL SELECT 4, 914, 0
            UNION ALL
            SELECT 4, 910,
                   SUM(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END)
            FROM bits x JOIN bits y ON x.pos = y.pos
            WHERE x.doc_id = 0 AND y.doc_id = 4
        )
        UNION ALL
        -- kind='landmark' (r13): content-anchored audio containment at
        -- a cut offset NO hop divides — the alignment-free claim of the
        -- landmark tier, driver-checked via the closed-form replay of
        -- detector, fingerprint and source-position vote
        SELECT 'landmark', CAST({LM_CLIP_ID} AS BIGINT),
               CAST(track_id AS BIGINT), 'audio',
               CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
               CAST(t_off AS INTEGER), CAST(n_matched AS INTEGER),
               CAST(max_unit_hamming AS BIGINT)
        FROM lm_vote
        UNION ALL
        -- kind='vlandmark' (r13): the VIDEO landmark tier — a cut at
        -- an arbitrary frame offset caught at its exact source frame
        -- by scene-change anchors, closed-form replay of energy,
        -- detector, anchor dHash and vote
        SELECT 'vlandmark', CAST({VL_CLIP_ID} AS BIGINT),
               CAST(track_id AS BIGINT), 'video',
               CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
               CAST(t_off AS INTEGER), CAST(n_matched AS INTEGER),
               CAST(max_unit_hamming AS BIGINT)
        FROM vl_vote
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plane, nine kind legs in one relation.

    kind='contain' — media SUBSEQUENCE containment
    (`ext/media_subseq.py:video_containment_pairs`): a clip re-encoded
    from frames [9, 17) of planted track 0 is located inside the six
    planted tracks by per-frame image hashes and the temporal-
    consistency offset vote (every clip frame matches its source frame
    at hamming 0 → offset 9 with all 8 votes; `width` = offset,
    `height` = votes). The oracle re-derives EVERY track frame's
    image-grid dHash from the gradient closed form (the clip's bits ARE
    track 0's frames [9, 17) in that CTE) and replays pairs → vote, so
    any coincidence offsets clearing the vote threshold would be
    replayed too, not assumed away.

    kind='recall' — the banded retrieval GRADED: `evaluate_recall` (the
    embedding tier's recall@k audit) of `rank_media_variants` against a
    brute-force exact top-k over the same signatures (explicit
    probe-sized cross join — the eval-harness pattern). The pigeonhole
    guarantee (total recall within max_hamming <= bands-1) is thereby
    measured per probe: n_hit = n_exact, recall_ppm = 1,000,000, with
    n_exact independently derived by the oracle from the closed-form
    ground truth — a banding recall regression would hash-mismatch this
    leg before any user sees a silently smaller candidate set.

    kind='report' — the media DATA CARD (`media_report`): per-modality
    decision counts, the cluster-size histogram AND the MASS axis
    (r12: total bytes / pixels / frames per (modality, decision) cell —
    compliance and mixture questions are asked in bytes and hours, not
    doc counts) over the curation leg's decisions relation, the
    release-notes numbers (`mime` = modality, `payload_sha256` =
    'metric:bucket', `id_a` = n). The oracle replays the rollup off the
    same mc_final CTE the curation rows come from — byte masses from
    container arithmetic (header + padded-row layout), so card and
    decisions cannot drift.

    kind='manifest' — decode/feature-extract stage over the
    payload+metadata plane: Arrow-batched mapInPandas over binary
    payloads. Real BMP/WAV codecs dispatch on magic bytes; the synthetic
    text payloads take the deterministic stub path whose dimension
    contract (width = len%640+1, height = len%480+1) the oracle
    re-derives in SQL — so the driver hash-checks that the Python stage
    actually ran the decode dispatch over every row with deterministic
    results. The metadata plane (mime/byte_len/sha256 from
    `attach_payload`) passes through the stage in the same relation.

    kind='phash_pair' — image perceptual near-duplicate detection over a
    planted BMP corpus: docs 0..47 render as REAL 24-bpp gradient BMPs
    (`make_gradient_bmp` — closed-form pixels, one inverted column as
    the near-dup edit), the real codec decodes them, integer-luma dHash
    signatures (`image_perceptual_bits`) band through the SimHash
    pigeonhole join (`image_near_dup_pairs`), and the exact hamming is
    verified on candidates. Identical images pair at hamming 0, the
    inverted-column variants at 6-12, cross-family images (>= 16) are
    excluded. Scale shape: pixels never shuffle — one decode pass emits
    64-bit signatures, candidates are a LINEAR equi-join on
    (band_id, band_value), exact verify only on candidates; recall for
    hamming <= bands-1 is guaranteed by pigeonhole, enforced in code.

    kind='afp_pair' — the AUDIO twin: docs 0..47 render as REAL 16-bit
    PCM sawtooth WAVs (`make_saw_wav` — closed-form integer samples,
    one halved window as the near-dup edit), the real chunk-walk codec
    decodes them, integer energy/spectral-flux fingerprints
    (`audio_fingerprint_bits` — 33 time bins, adjacent-sign bits, the
    Haitsma-Kalker shape without the FFT) band through the same
    pigeonhole join (`audio_near_dup_pairs`). Identical clips pair at
    hamming 0, re-leveled variants at 1-3, cross-family (>= 25)
    excluded. PCM bytes never shuffle.

    kind='vhash_pair' — the VIDEO leg completing the triad: docs 0..47
    render as REAL uncompressed 24-frame AVIs (`make_gradient_avi` —
    closed-form gradient frames with per-frame offsets, one inverted
    column in frames [9, 18) as the TEMPORALLY-local near-dup edit), the
    real RIFF chunk-walk codec decodes them (`_avi_frames`), integer
    spatio-temporal signatures (`video_hash_bits` — 8 frames sampled at
    temporal centers x 8 spatial dHash bits each) band through the same
    pigeonhole join (`video_near_dup_pairs`). Identical videos pair at
    hamming 0, edited variants at 3-8 (only the 3 sampled frames inside
    the edit window flip bits), cross-family (>= 19) excluded. Frame
    pixels never shuffle — one decode pass per video emits 64 bits.

    kind='curation' — the MEDIA CURATION FUNNEL (`curate_media`, the
    multimodal twin of the text curate() pipeline) over a planted MIXED
    corpus: docs 0..47 round-robin image/audio/video by doc_id % 3, four
    near-dup-clique families per modality (two exact copies each of an
    original and an edited form), plus unknown-container text payloads,
    a below-floor 8x6 image, a 5-frame video the hash's decode gate
    dead-letters, and a RE-ENCODED STILL (doc 54: a 24-frame AVI whose
    every frame is the seed-0 image's pixels). JVM-side magic-byte
    dispatch → one real decode per payload (the video leg runs the FUSED
    stage: vhash + per-sampled-frame image hashes) → floor gates →
    per-modality banded near-dup → pointer-jumping clusters →
    lowest-id-canonical keep → CROSS-MODALITY gate (cross_modal=True): a
    video still 'keep' whose any sampled frame is within the image
    radius of a floor-surviving image drops as drop:near_dup_cross.
    Every input doc appears exactly once with an explicit decision (the
    audit discipline); `mime` carries the modality, `payload_sha256` the
    decision, `id_b` the cluster id. The oracle re-derives every
    signature from the generators' closed forms and replays the
    keep/drop rule (exact on cliques: component min = smallest incident
    pair id) INCLUDING the cross gate — frame-vs-image hamming for EVERY
    video (the planted corpus genuinely exercises it beyond the still:
    video doc 2's frames land within the radius of the image plane), and
    doc 54's video-plane bits are derived too so within-modality
    precedence is replayed, not assumed."""
    import pandas as pd

    from beeper_matric_etl_tool_spark.ext import multimodal as xmm

    docs = table(spark, sf_dir, "documents")
    feats = xmm.extract_features(xmm.attach_payload(docs))
    manifest = feats.select(
        F.lit("manifest").alias("kind"),
        F.col("doc_id").alias("id_a"),
        F.lit(None).cast("long").alias("id_b"),
        "mime", "byte_len", "payload_sha256", "width", "height",
        F.lit(None).cast("long").alias("hamming"),
    )

    def gen_images(it):
        for pdf in it:
            payloads = [
                xmm.make_gradient_bmp(
                    PHASH_W, PHASH_H, int(d) % PHASH_SEEDS,
                    PHASH_MARK_COL if (int(d) // PHASH_SEEDS) % 2 else None,
                )
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    planted = docs.select("doc_id").filter(F.col("doc_id") < PHASH_DOCS)
    # r13: every payload-generator and shared decode frame below gets a
    # LAZY localCheckpoint — this 14-leg union otherwise re-embeds the
    # generator+decode subtrees per consumer (measured: 68 MapInPandas
    # nodes / 291 scans / 13.6k plan lines, with the same Catalyst
    # planning wall the quality_filter suite paid). Each checkpointed
    # frame is planted-corpus-sized (dozens of rows), executes once, and
    # every leg reads the materialized partitions.
    imgs = planted.mapInPandas(
        gen_images, "doc_id long, payload binary"
    ).localCheckpoint(eager=False)
    pairs = xmm.image_near_dup_pairs(
        imgs, max_hamming=PHASH_MAX_HAMMING, bands=PHASH_BANDS, n_bits=64
    ).select(
        F.lit("phash_pair").alias("kind"),
        F.col("id_a").cast("long"),
        F.col("id_b").cast("long"),
        F.lit(None).cast("string").alias("mime"),
        F.lit(None).cast("long").alias("byte_len"),
        F.lit(None).cast("string").alias("payload_sha256"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.col("hamming").cast("long"),
    )

    # kind='afp_pair': the audio twin — closed-form sawtooth WAVs through
    # the real PCM codec, integer energy/flux fingerprints, same banding.
    def gen_wavs(it):
        for pdf in it:
            payloads = [
                xmm.make_saw_wav(
                    AFP_N, int(d) % AFP_SEEDS,
                    AFP_EDIT if (int(d) // AFP_SEEDS) % 2 else None,
                )
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    planted_a = docs.select("doc_id").filter(F.col("doc_id") < AFP_DOCS)
    wavs = planted_a.mapInPandas(
        gen_wavs, "doc_id long, payload binary"
    ).localCheckpoint(eager=False)
    apairs = xmm.audio_near_dup_pairs(
        wavs, max_hamming=AFP_MAX_HAMMING, bands=AFP_BANDS, n_bits=64
    ).select(
        F.lit("afp_pair").alias("kind"),
        F.col("id_a").cast("long"),
        F.col("id_b").cast("long"),
        F.lit(None).cast("string").alias("mime"),
        F.lit(None).cast("long").alias("byte_len"),
        F.lit(None).cast("string").alias("payload_sha256"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.col("hamming").cast("long"),
    )

    # kind='vhash_pair': the video leg — closed-form gradient AVIs through
    # the real RIFF chunk-walk codec, spatio-temporal integer signatures
    # (8 sampled frames x 8 spatial dHash bits), same pigeonhole banding.
    def gen_avis(it):
        for pdf in it:
            payloads = [
                xmm.make_gradient_avi(
                    VHASH_W, VHASH_H, VHASH_N_FRAMES, int(d) % VHASH_SEEDS,
                    VHASH_MARK_COL if (int(d) // VHASH_SEEDS) % 2 else None,
                    VHASH_EDIT_FRAMES if (int(d) // VHASH_SEEDS) % 2 else None,
                )
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    planted_v = docs.select("doc_id").filter(F.col("doc_id") < VHASH_DOCS)
    avis = planted_v.mapInPandas(
        gen_avis, "doc_id long, payload binary"
    ).localCheckpoint(eager=False)
    vpairs = xmm.video_near_dup_pairs(
        avis, max_hamming=VHASH_MAX_HAMMING, bands=VHASH_BANDS, n_bits=64
    ).select(
        F.lit("vhash_pair").alias("kind"),
        F.col("id_a").cast("long"),
        F.col("id_b").cast("long"),
        F.lit(None).cast("string").alias("mime"),
        F.lit(None).cast("long").alias("byte_len"),
        F.lit(None).cast("string").alias("payload_sha256"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.col("hamming").cast("long"),
    )

    # kind='curation': the media curation funnel over a planted MIXED
    # corpus (modality round-robin by doc_id % 3 + 4 near-dup-clique
    # families per modality + unknown/below-floor/undecodable extras).
    # Driver columns carry modality in `mime` and decision in
    # `payload_sha256` (the slot's fixed schema; documented here and in
    # the oracle). The oracle re-derives every signature from the
    # generators' closed forms and replays the keep/drop rule — exact
    # because planted families are cliques, so the component minimum
    # equals the smallest incident pair id.
    def gen_mixed(it):
        for pdf in it:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                if d >= MC_MEDIA_DOCS:
                    if d < MC_MEDIA_DOCS + 4:
                        payloads.append(f"text payload {d}".encode())
                    elif d == MC_MEDIA_DOCS + 4:
                        payloads.append(xmm.make_bmp(MC_SMALL_W, MC_SMALL_H, 0))
                    elif d == MC_MEDIA_DOCS + 5:
                        payloads.append(
                            xmm.make_gradient_avi(
                                VHASH_W, VHASH_H, MC_SHORT_FRAMES, 0
                            )
                        )
                    else:  # the re-encoded still (MC_STILL_DOC)
                        import numpy as np

                        px = xmm._bmp_pixels(
                            xmm.make_gradient_bmp(PHASH_W, PHASH_H, 0)
                        )[:, :, :3]
                        payloads.append(
                            xmm._encode_avi(np.stack([px] * 24), fps=12)
                        )
                    continue
                m, j = d % 3, d // 3
                seed, variant = j % MC_SEEDS, (j // MC_SEEDS) % 2
                if m == 0:
                    payloads.append(
                        xmm.make_gradient_bmp(
                            PHASH_W, PHASH_H, seed,
                            PHASH_MARK_COL if variant else None,
                        )
                    )
                elif m == 1:
                    payloads.append(
                        xmm.make_saw_wav(AFP_N, seed, AFP_EDIT if variant else None)
                    )
                else:
                    payloads.append(
                        xmm.make_gradient_avi(
                            VHASH_W, VHASH_H, VHASH_N_FRAMES, seed,
                            VHASH_MARK_COL if variant else None,
                            VHASH_EDIT_FRAMES if variant else None,
                        )
                    )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    planted_mc = docs.select("doc_id").filter(F.col("doc_id") < MC_DOCS)
    mixed = planted_mc.mapInPandas(
        gen_mixed, "doc_id long, payload binary"
    ).localCheckpoint(eager=False)
    # --- containment corpus frames (defined here so the index lifecycle
    # below can overlap the curation chain — see the thread pool) ---
    def gen_tracks(it):
        for pdf in it:
            payloads = [
                xmm.make_gradient_avi(
                    VHASH_W, VHASH_H, VHASH_N_FRAMES, int(d) % VHASH_SEEDS
                )
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    def gen_clip(it):
        for pdf in it:
            payloads = []
            for _d in pdf["doc_id"]:
                frames, _ = xmm._avi_frames(
                    xmm.make_gradient_avi(VHASH_W, VHASH_H, VHASH_N_FRAMES, 0)
                )
                payloads.append(
                    xmm._encode_avi(frames[CT_CLIP_START:CT_CLIP_END])
                )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(
                        [CT_CLIP_ID] * len(pdf), dtype="int64"
                    ),
                    "payload": payloads,
                }
            )

    def gen_del_clips(it):
        for pdf in it:
            ids, payloads = [], []
            for _d in pdf["doc_id"]:
                for src in (0, 1):
                    frames, _ = xmm._avi_frames(
                        xmm.make_gradient_avi(
                            VHASH_W, VHASH_H, VHASH_N_FRAMES, src
                        )
                    )
                    ids.append(CT_CLIP_ID + src * 2)
                    payloads.append(
                        xmm._encode_avi(frames[CT_CLIP_START:CT_CLIP_END])
                    )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "payload": payloads,
                }
            )

    ct_tracks = (
        docs.select("doc_id").filter(F.col("doc_id") < CT_TRACKS)
        .mapInPandas(gen_tracks, "doc_id long, payload binary")
        .localCheckpoint(eager=False)
    )
    ct_clip = (
        docs.select("doc_id").filter(F.col("doc_id") == 0)
        .mapInPandas(gen_clip, "doc_id long, payload binary")
        .localCheckpoint(eager=False)
    )
    ct_del_clips = (
        docs.select("doc_id").filter(F.col("doc_id") == 0)
        .mapInPandas(gen_del_clips, "doc_id long, payload binary")
        .localCheckpoint(eager=False)
    )

    from concurrent.futures import ThreadPoolExecutor

    from beeper_matric_etl_tool_spark.ext.containment_index import (
        build_containment_index,
        containment_against_index,
        delete_from_containment_index,
    )

    # the oracle replays the 64-bit closed forms, so the funnel runs the
    # compact width explicitly (production default is DEFAULT_SIG_BITS);
    # cross_modal exercises the re-encoded-still gate over the planted
    # still-AVI (the oracle replays the frame-vs-image hamming for EVERY
    # video, not just the planted hit)
    def _curation_chain():
        return xmm.curate_media(
            mixed, min_width=MC_MIN_W, min_height=MC_MIN_H, sig_bits=64,
            cross_modal=True,
        ).localCheckpoint(eager=False)  # r13: curation + report legs share it

    def _lifecycle_chain():
        # build → probe (materialized BEFORE the index mutates) → delete;
        # everything in this chain touches only its own temp index dir
        # and the ct_* frames, so it cannot interact with the curation
        # chain's jobs beyond sharing executor slots.
        cidx_dir = workdir("mmf_contain_idx_")
        build_containment_index(
            ct_tracks, cidx_dir, kind="video", n_bits=64, stride=1,
            max_hamming=CT_MAX_HAMMING,
        )
        ci = containment_against_index(
            ct_clip, spark, cidx_dir, min_matches=CT_MIN_MATCHES
        ).select(
            F.lit("contain_idx").alias("kind"),
            F.col("clip_id").cast("long").alias("id_a"),
            F.col("track_id").cast("long").alias("id_b"),
            F.lit("video").alias("mime"),
            F.lit(None).cast("long").alias("byte_len"),
            F.lit(None).cast("string").alias("payload_sha256"),
            F.col("offset").cast("int").alias("width"),
            F.col("n_matched").cast("int").alias("height"),
            F.col("max_unit_hamming").cast("long").alias("hamming"),
        ).localCheckpoint(eager=True)
        delete_from_containment_index(spark, cidx_dir, [0])
        return cidx_dir, ci

    # r13 (guide §2.6): the two EAGER construction chains — the curation
    # funnel's pointer-jumping cluster loops and the containment-index
    # build/probe/delete lifecycle — are independent; overlapping them
    # from a driver thread pool back-fills the per-job scheduling floors
    # each chain pays. Results are unchanged: each chain's output depends
    # only on its own deterministic inputs.
    # r14: the futures are JOINED just before the final union, not here —
    # every leg between this point and the join (search/recall/png/
    # contain/landmark) is independent of both chains, so its driver-side
    # composition (Catalyst analysis) now overlaps the chains' executor
    # jobs instead of waiting for them.
    with ThreadPoolExecutor(max_workers=2) as _pool:
        _f_life = _pool.submit(_lifecycle_chain)
        _f_cur = _pool.submit(_curation_chain)
        # kind='search': ranked variant retrieval semantics
        # (ext/media_index.py:rank_media_variants — the relational core of
        # media_search, oracle-checkable without a filesystem index). One
        # probe per gradient family (docs 0..5, the originals) against the
        # rest of the planted image corpus: top-3 by (hamming, ref_id) —
        # deterministically the three exact copies at hamming 0. `width`
        # carries the rank (the slot's fixed schema), `mime` the modality.
        from beeper_matric_etl_tool_spark.ext.media_index import rank_media_variants

        sigs_all = xmm.image_perceptual_bits(imgs, n_bits=64).filter(
            F.col("error").isNull()
        ).select(
            "doc_id", F.lit("image").alias("modality"), "bits"
        ).localCheckpoint(eager=False)  # r13: 6 consumers (search/recall/png legs)

        # kind='png_pair' (r13): the in-tree PNG codec driver-oracled. Two
        # planted docs' PIXELS (doc 0 verbatim, doc 4 = seed 0's
        # inverted-column variant) re-encode as Paeth-filtered PNGs (the
        # hardest unfilter path) and hash through the SAME image plane —
        # their distances to the BMP twins replay from the oracle's bits
        # CTE: twin pairs at hamming 0 (content identity across
        # containers), the cross pair (doc 4's BMP vs doc 0's PNG) at the
        # planted edit distance. A broken decode (filter reconstruction,
        # channel order, CRC walk) shifts the bits and hash-mismatches.
        def gen_pngs(it):
            for pdf in it:
                ids, payloads = [], []
                for d in pdf["doc_id"]:
                    for src in (0, 4):
                        bmp = xmm.make_gradient_bmp(
                            PHASH_W, PHASH_H, src % PHASH_SEEDS,
                            PHASH_MARK_COL if (src // PHASH_SEEDS) % 2 else None,
                        )
                        px = xmm._bmp_pixels(bmp)[:, :, :3]
                        ids.append(910 + src)
                        payloads.append(xmm._encode_png(px, filter_type=4))
                yield pd.DataFrame(
                    {"doc_id": pd.Series(ids, dtype="int64"), "payload": payloads}
                )

        png_bits = xmm.image_perceptual_bits(
            docs.select("doc_id").filter(F.col("doc_id") == 0)
            .mapInPandas(gen_pngs, "doc_id long, payload binary"),
            n_bits=64,
        ).filter(F.col("error").isNull()).select(
            F.col("doc_id").alias("png_id"), F.col("bits").alias("__pb")
        )
        bmp_bits = sigs_all.filter(F.col("doc_id").isin(0, 4)).select(
            F.col("doc_id").alias("bmp_id"), F.col("bits").alias("__bb")
        )
        png_ham = F.aggregate(
            F.zip_with("__pb", "__bb", lambda x, y: F.abs(x - y)),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        png_pair = (
            png_bits.crossJoin(bmp_bits)
            .filter(
                (F.col("png_id") - 910 == F.col("bmp_id"))
                | ((F.col("png_id") == 910) & (F.col("bmp_id") == 4))
            )
            .select(
                F.lit("png_pair").alias("kind"),
                F.col("bmp_id").cast("long").alias("id_a"),
                F.col("png_id").cast("long").alias("id_b"),
                F.lit("image/png").alias("mime"),
                F.lit(None).cast("long").alias("byte_len"),
                F.lit(None).cast("string").alias("payload_sha256"),
                F.lit(None).cast("int").alias("width"),
                F.lit(None).cast("int").alias("height"),
                png_ham.cast("long").alias("hamming"),
            )
        )
        ranked = rank_media_variants(
            sigs_all.filter(F.col("doc_id") < PHASH_SEEDS),
            sigs_all.filter(F.col("doc_id") >= PHASH_SEEDS),
            max_hamming=PHASH_MAX_HAMMING, k=3, bands=PHASH_BANDS, n_bits=64,
        ).localCheckpoint(eager=False)  # r13: search leg + recall grading share it
        search = ranked.select(
            F.lit("search").alias("kind"),
            F.col("probe_id").cast("long").alias("id_a"),
            F.col("ref_id").cast("long").alias("id_b"),
            F.col("modality").alias("mime"),
            F.lit(None).cast("long").alias("byte_len"),
            F.lit(None).cast("string").alias("payload_sha256"),
            F.col("rank").cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.col("hamming").cast("long"),
        )
        # kind='recall': the BANDED retrieval graded against a brute-force
        # EXACT top-k (`evaluate_recall`, the embedding tier's audit) — the
        # pigeonhole guarantee measured, not assumed. The ground truth is an
        # explicit probe-sized cross join (the eval-harness pattern, never
        # the production path) with the same (hamming, ref_id) order.
        from pyspark.sql import Window as _W

        from beeper_matric_etl_tool_spark.ext.similarity import evaluate_recall

        a = sigs_all.filter(F.col("doc_id") < PHASH_SEEDS).select(
            F.col("doc_id").alias("probe_id"), F.col("bits").alias("__ba")
        )
        b = sigs_all.filter(F.col("doc_id") >= PHASH_SEEDS).select(
            F.col("doc_id").alias("ref_id"), F.col("bits").alias("__bb")
        )
        ham = F.aggregate(
            F.zip_with("__ba", "__bb", lambda x, y: F.abs(x - y)),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        exact_topk = (
            a.crossJoin(b)
            .select("probe_id", "ref_id", ham.alias("hamming"))
            .filter(F.col("hamming") <= PHASH_MAX_HAMMING)
            .withColumn(
                "rnk",
                F.row_number().over(
                    _W.partitionBy("probe_id").orderBy("hamming", "ref_id")
                ),
            )
            .filter(F.col("rnk") <= 3)
        )
        # kind='contain': media SUBSEQUENCE containment
        # (`ext/media_subseq.py:video_containment_pairs`) — the clip
        # (frames [9, 17) of track 0, re-encoded) located inside the six
        # planted tracks by per-frame image hashes + the temporal-
        # consistency offset vote. 64-bit frame hashes (the closed-form
        # oracle width); the slot carries offset in `width`, vote count in
        # `height`, the worst unit distance in `hamming`.
        # kind='contain_idx' (r13): the SAME planted corpus probed through
        # the PERSISTED containment-index lifecycle (`ext/containment_index`)
        # — build decodes the six tracks ONCE into unit signatures on disk
        # (stride 1, radius pinned at build), the probe decodes ONLY the
        # clip and votes against the stored units; the index path's verdicts
        # are IDENTICAL to the batch core's. Built in _lifecycle_chain above.
        # kind='contain_del' (r13): the takedown cascade driver-oracled.
        # The pre-delete probe was pinned (localCheckpoint) BEFORE the index
        # mutated in _lifecycle_chain; here the post-deletion index answers
        # TWO clips: track 0's (every verdict gone — the removed source can
        # no longer be named) and track 1's (still lands at its exact offset
        # — deletion disturbed nothing else). The oracle replays the same
        # closed-form vote over the post-deletion track set.
        from beeper_matric_etl_tool_spark.ext.media_subseq import (
            video_containment_pairs,
        )

        # (contain_del is composed after the lifecycle future joins — it
        # reads the post-deletion index state; see below)
        contain = video_containment_pairs(
            ct_clip, ct_tracks,
            max_hamming=CT_MAX_HAMMING, min_matches=CT_MIN_MATCHES, n_bits=64,
        ).select(
            F.lit("contain").alias("kind"),
            F.col("clip_id").cast("long").alias("id_a"),
            F.col("track_id").cast("long").alias("id_b"),
            F.lit("video").alias("mime"),
            F.lit(None).cast("long").alias("byte_len"),
            F.lit(None).cast("string").alias("payload_sha256"),
            F.col("offset").cast("int").alias("width"),
            F.col("n_matched").cast("int").alias("height"),
            F.col("max_unit_hamming").cast("long").alias("hamming"),
        )
        # kind='landmark' (r13): the alignment-free containment claim —
        # a clip cut at sample 701 (an offset NO hop divides; the r12
        # alignment probe measured the fingerprint's zero sub-hop shift
        # tolerance, recorded in SURVEY.md item 33) is located inside three
        # texture tracks by ENERGY-LANDMARK anchors; the vote runs on
        # source positions, so `offset`/width is the exact cut sample.
        from beeper_matric_etl_tool_spark.ext.media_subseq import (
            audio_containment_pairs,
        )

        def gen_lm_tracks(it):
            for pdf in it:
                payloads = [
                    xmm.make_texture_wav(LM_N, int(d)) for d in pdf["doc_id"]
                ]
                yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

        def gen_lm_clip(it):
            for pdf in it:
                payloads = [
                    xmm.make_texture_wav(
                        LM_N, 0, clip=(LM_CLIP_START, LM_CLIP_END)
                    )
                    for _ in pdf["doc_id"]
                ]
                yield pd.DataFrame(
                    {
                        "doc_id": pd.Series(
                            [LM_CLIP_ID] * len(pdf), dtype="int64"
                        ),
                        "payload": payloads,
                    }
                )

        lm_tracks = (
            docs.select("doc_id").filter(F.col("doc_id") < LM_TRACKS)
            .mapInPandas(gen_lm_tracks, "doc_id long, payload binary")
            .localCheckpoint(eager=False)
        )
        lm_clip = (
            docs.select("doc_id").filter(F.col("doc_id") == 0)
            .mapInPandas(gen_lm_clip, "doc_id long, payload binary")
            .localCheckpoint(eager=False)
        )
        landmark = audio_containment_pairs(
            lm_clip, lm_tracks,
            window_frames=LM_W,
            max_hamming=LM_MAX_HAMMING,
            min_matches=LM_MIN_MATCHES,
            n_bits=64,
            landmark_spacing=LM_SPACING,
        ).select(
            F.lit("landmark").alias("kind"),
            F.col("clip_id").cast("long").alias("id_a"),
            F.col("track_id").cast("long").alias("id_b"),
            F.lit("audio").alias("mime"),
            F.lit(None).cast("long").alias("byte_len"),
            F.lit(None).cast("string").alias("payload_sha256"),
            F.col("offset").cast("int").alias("width"),
            F.col("n_matched").cast("int").alias("height"),
            F.col("max_unit_hamming").cast("long").alias("hamming"),
        )
        # kind='vlandmark' (r13): the VIDEO landmark twin — scene-change
        # anchors catch a cut at frame 7 (an arbitrary offset) at its exact
        # source position; the vote runs on source frame numbers.
        def gen_vl_tracks(it):
            for pdf in it:
                payloads = [
                    xmm.make_texture_avi(VL_W, VL_H, VL_N, int(d))
                    for d in pdf["doc_id"]
                ]
                yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

        def gen_vl_clip(it):
            for pdf in it:
                payloads = [
                    xmm.make_texture_avi(
                        VL_W, VL_H, VL_N, 0, clip=(VL_CLIP_START, VL_N)
                    )
                    for _ in pdf["doc_id"]
                ]
                yield pd.DataFrame(
                    {
                        "doc_id": pd.Series(
                            [VL_CLIP_ID] * len(pdf), dtype="int64"
                        ),
                        "payload": payloads,
                    }
                )

        vl_tracks = (
            docs.select("doc_id").filter(F.col("doc_id") < VL_TRACKS)
            .mapInPandas(gen_vl_tracks, "doc_id long, payload binary")
            .localCheckpoint(eager=False)
        )
        vl_clip = (
            docs.select("doc_id").filter(F.col("doc_id") == 0)
            .mapInPandas(gen_vl_clip, "doc_id long, payload binary")
            .localCheckpoint(eager=False)
        )
        vlandmark = video_containment_pairs(
            vl_clip, vl_tracks,
            max_hamming=VL_MAX_HAMMING,
            min_matches=VL_MIN_MATCHES,
            n_bits=64,
            landmark_spacing=VL_SPACING,
        ).select(
            F.lit("vlandmark").alias("kind"),
            F.col("clip_id").cast("long").alias("id_a"),
            F.col("track_id").cast("long").alias("id_b"),
            F.lit("video").alias("mime"),
            F.lit(None).cast("long").alias("byte_len"),
            F.lit(None).cast("string").alias("payload_sha256"),
            F.col("offset").cast("int").alias("width"),
            F.col("n_matched").cast("int").alias("height"),
            F.col("max_unit_hamming").cast("long").alias("hamming"),
        )

        recall = evaluate_recall(
            ranked, exact_topk, query_col="probe_id", id_col="ref_id"
        ).select(
            F.lit("recall").alias("kind"),
            F.col("probe_id").cast("long").alias("id_a"),
            F.col("n_exact").cast("long").alias("id_b"),
            F.lit("image").alias("mime"),
            F.lit(None).cast("long").alias("byte_len"),
            F.lit(None).cast("string").alias("payload_sha256"),
            F.col("n_hit").cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.col("recall_ppm").cast("long").alias("hamming"),
        )
        # join the eager chains (their jobs ran while the legs above were
        # composed), then build the three legs that depend on their outputs
        mc_decisions, (cidx_dir, contain_idx) = results(_f_cur, _f_life)
    curation = mc_decisions.select(
        F.lit("curation").alias("kind"),
        F.col("doc_id").cast("long").alias("id_a"),
        F.col("cluster_id").cast("long").alias("id_b"),
        F.col("modality").alias("mime"),
        # r12: the per-doc payload mass rides the slot's byte_len — the
        # oracle re-derives it from container arithmetic (_bmp_nbytes &
        # co), so the funnel's n_bytes join is hash-checked per doc
        F.col("n_bytes").cast("long").alias("byte_len"),
        F.col("decision").alias("payload_sha256"),
        F.col("width").cast("int"),
        F.col("height").cast("int"),
        F.lit(None).cast("long").alias("hamming"),
    )
    # kind='report': the media DATA CARD (`media_report`) over the same
    # decisions relation — per-modality decision counts + cluster-size
    # histogram + the r12 mass axis (bytes / pixels / frames per
    # decision cell); the oracle replays the rollup off its mc_final CTE
    report = xmm.media_report(mc_decisions, include_mass=True).select(
        F.lit("report").alias("kind"),
        F.col("n").cast("long").alias("id_a"),
        F.lit(None).cast("long").alias("id_b"),
        F.col("modality").alias("mime"),
        F.lit(None).cast("long").alias("byte_len"),
        F.concat_ws(":", "metric", "bucket").alias("payload_sha256"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("long").alias("hamming"),
    )
    contain_del = containment_against_index(
        ct_del_clips, spark, cidx_dir, min_matches=CT_MIN_MATCHES
    ).select(
        F.lit("contain_del").alias("kind"),
        F.col("clip_id").cast("long").alias("id_a"),
        F.col("track_id").cast("long").alias("id_b"),
        F.lit("video").alias("mime"),
        F.lit(None).cast("long").alias("byte_len"),
        F.lit(None).cast("string").alias("payload_sha256"),
        F.col("offset").cast("int").alias("width"),
        F.col("n_matched").cast("int").alias("height"),
        F.col("max_unit_hamming").cast("long").alias("hamming"),
    )
    return (
        manifest.unionByName(pairs)
        .unionByName(apairs)
        .unionByName(vpairs)
        .unionByName(curation)
        .unionByName(report)
        .unionByName(search)
        .unionByName(recall)
        .unionByName(contain)
        .unionByName(contain_idx)
        .unionByName(contain_del)
        .unionByName(landmark)
        .unionByName(vlandmark)
        .unionByName(png_pair)
    )


# --------------------------------------------------------------------------
# SimHash + embedding near-dup + sketches
# --------------------------------------------------------------------------


# (simhash is the method='simhash' slice of `near_dup_pairs`)


def _lsh_oracle() -> str:
    """DuckDB twin of the sign-random-projection LSH funnel, with the SAME
    frozen ±1 plane literals the Spark plan embeds (xsim.LSH_PLANES)."""
    planes = xsim.LSH_PLANES
    bit_exprs = ",\n                   ".join(
        f"CASE WHEN list_dot_product(v, [{', '.join(f'{c}.0' for c in plane)}]) >= 0 "
        f"THEN 1 ELSE 0 END AS b{j}"
        for j, plane in enumerate(planes)
    )
    band_selects = "\n            UNION ALL ".join(
        "SELECT vec_id, {b} AS band_id, "
        "{bits} AS band_sig FROM bits".format(
            b=b,
            bits=" + ".join(f"{1 << k} * b{b * 4 + k}" for k in range(4)),
        )
        for b in range(4)
    )
    return f"""
        WITH e AS (
            SELECT vec_id, list_transform(embedding::DOUBLE[], x -> floor(x * 65536.0)) AS v
            FROM embeddings
        ),
        n AS (SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM e),
        bits AS (
            SELECT vec_id,
                   {bit_exprs}
            FROM n
        ),
        bands AS (
            {band_selects}
        ),
        cand AS (
            SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
            FROM bands a JOIN bands b
              ON a.band_id = b.band_id AND a.band_sig = b.band_sig
                 AND a.vec_id < b.vec_id
        )
        SELECT id_a, id_b,
               CAST(floor(1000000 * list_dot_product(na.v, nb.v)
                     / (sqrt(na.n2) * sqrt(nb.n2))) AS BIGINT) AS cosine_ppm
        FROM cand JOIN n na ON na.vec_id = id_a JOIN n nb ON nb.vec_id = id_b
        WHERE list_dot_product(na.v, nb.v) / (sqrt(na.n2) * sqrt(nb.n2)) >= 0.3
    """


# (the candidate→verify kernels live in ext/similarity.py —
# verify_cosine_pairs / banded_candidate_pairs / quantized_norms — shared
# with the production-default entry point `near_dup_embeddings`; this
# catalog entry pins the SAME kernels at the oracle-tier band width)


@register(
    "embedding_near_dup",
    tags=("ext-dedup", "ext-sim"),
    oracle=(
        """
        SELECT 'blocked' AS method, * FROM (
            WITH e AS (
                SELECT vec_id, label,
                       list_transform(embedding::DOUBLE[], x -> floor(x * 65536.0)) AS v
                FROM embeddings
            ),
            n AS (SELECT vec_id, label, v, list_dot_product(v, v) AS n2 FROM e)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   CAST(floor(1000000 * list_dot_product(a.v, b.v)
                         / (sqrt(a.n2) * sqrt(b.n2))) AS BIGINT) AS cosine_ppm
            FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE list_dot_product(a.v, b.v) / (sqrt(a.n2) * sqrt(b.n2)) >= 0.3
        )
        UNION ALL
        SELECT 'lsh' AS method, * FROM ("""
        + _lsh_oracle()
        + ")"
    ),
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both embedding-cosine near-dup candidate funnels in one relation,
    sharing the exact quantized-cosine verify (the former blocked + LSH
    entries merged):

    method='blocked' — pairs blocked by the GIVEN coarse partition (label)
    — the semantic-dedup stage when a clustering already exists. Quadratic
    only within a block. Quantized-integer scoring (see ext/similarity.py).
    method='lsh' — DATA-INDEPENDENT LSH: no label, no trained quantizer —
    candidate buckets come from banded sign-random-projections (frozen ±1
    hyperplanes, exact integer dots → engine-identical signs), so the pair
    space is an equi-join on (band_id, band_sig), the same banding
    amplification the MinHash text path uses but for cosine geometry. The
    path when no partition exists yet; compare `kmeans_invariants`.

    This entry runs the ORACLE-TIER banding (16 planes / 4-bit band keys
    — non-trivial output on tiny corpora, hash-checkable against the SQL
    twin) by EXPLICITLY passing `xsim.LSH_PLANES` — the only remaining
    consumer of that fixed width. The production default is
    `xsim.near_dup_embeddings`, which sizes bits_per_band to
    ≈ log2(n_docs) (`xsim.scaled_planes_for`): a fixed width has a
    2^-bits random-collision floor that is quadratic in n — measured in
    `tools/scale_probe.py`, which probes both the fixed toy width and
    the log-sized production width through the same shared kernels
    (`banded_candidate_pairs` → `verify_cosine_pairs`)."""
    emb = table(spark, sf_dir, "embeddings")
    n = xsim.quantized_norms(emb)

    lab = emb.select("vec_id", "label")
    blocked_cand = (
        lab.select(F.col("vec_id").alias("id_a"), "label")
        .join(lab.select(F.col("vec_id").alias("id_b"), "label"), on="label")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )

    lsh_cand = xsim.banded_candidate_pairs(emb, planes=xsim.LSH_PLANES, n_bands=4)

    blocked = xsim.verify_cosine_pairs(blocked_cand, n, threshold=0.3).select(
        F.lit("blocked").alias("method"), "id_a", "id_b", "cosine_ppm"
    )
    lsh = xsim.verify_cosine_pairs(lsh_cand, n, threshold=0.3).select(
        F.lit("lsh").alias("method"), "id_a", "id_b", "cosine_ppm"
    )
    return blocked.unionByName(lsh)


@register(
    "decontaminate",
    tags=("ext-text", "ext-quality"),
    oracle=f"""
        WITH split AS (
            SELECT doc_id, text,
                   {HOLDOUT_SQL} AS split
            FROM documents
        ),
        grams AS (
            SELECT doc_id, split, gram FROM (
                SELECT doc_id, split,
                       unnest(list_distinct(list_transform(
                           generate_series(1, greatest(
                               len(str_split(text, ' ')) - 7, 1)),
                           i -> array_to_string(
                               list_slice(str_split(text, ' '), i, i + 7), ' ')
                       ))) AS gram
                FROM split
            )
        ),
        val_grams AS (SELECT DISTINCT gram FROM grams WHERE split = 'val'),
        hits AS (
            SELECT g.doc_id, count(*) AS n_overlapping_grams
            FROM grams g JOIN val_grams v ON g.gram = v.gram
            WHERE g.split = 'train'
            GROUP BY g.doc_id
        )
        SELECT doc_id, n_overlapping_grams FROM hits
    """,
)
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the stage every LLM data pipeline runs
    before training: any training document sharing an 8-token gram with
    the held-out split is contaminated (the Gopher/GPT-3 rule; 8-grams
    are specific enough that a collision means real leakage, and the
    flagged count grades severity). The held-out set is the same
    hash-derived split `corpus_composition` reports, so the whole check
    is deterministic end-to-end. Scale shape: distinct grams explode per
    side, the overlap is an EQUI-JOIN on the gram (never doc×doc), and
    the val side aggregates to a distinct-gram set first — at 100 TB
    that side is benchmark-sized and broadcastable."""
    docs = table(spark, sf_dir, "documents")
    split = docs.select("doc_id", "text", holdout_split().alias("split"))
    grams = split.select(
        "doc_id", "split",
        F.explode(xdedup.shingles(xtext.tokens("text"), k=8)).alias("gram"),
    )
    val_grams = grams.filter(F.col("split") == "val").select("gram").distinct()
    return (
        grams.filter(F.col("split") == "train")
        .join(F.broadcast(val_grams), on="gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlapping_grams"))
    )


# (the source-mixing sampler is the dim='mix' slice of `corpus_composition`
# — same documents scan, same MIX_RATES thresholds)


# (the data-independent LSH funnel is the method='lsh' slice of
# `embedding_near_dup` — same exact quantized-cosine verify)


@register(
    "approx_sketches",
    tags=("ext-approx",),
    oracle="""
        WITH ex AS (
            SELECT count(DISTINCT user_id) AS eu, count(DISTINCT event_id) AS ee,
                   quantile_cont(value, 0.50) AS p50,
                   quantile_cont(value, 0.95) AS p95,
                   quantile_cont(value, 0.99) AS p99
            FROM events
        ),
        ap AS (
            SELECT approx_count_distinct(user_id) AS au,
                   approx_count_distinct(event_id) AS ae,
                   approx_quantile(value, 0.50) AS a50,
                   approx_quantile(value, 0.95) AS a95,
                   approx_quantile(value, 0.99) AS a99
            FROM events
        )
        SELECT eu AS exact_users, ee AS exact_events,
               (abs(au - eu) <= 0.2 * eu) AS users_approx_ok,
               (abs(ae - ee) <= 0.2 * ee) AS events_approx_ok,
               (abs(a50 - p50) <= 0.05 * abs(p50) + 5.0) AS q50_approx_ok,
               (abs(a95 - p95) <= 0.05 * abs(p95) + 5.0) AS q95_approx_ok,
               (abs(a99 - p99) <= 0.05 * abs(p99) + 5.0) AS q99_approx_ok
        FROM ex, ap
    """,
)
def approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 TB hygiene operators: HyperLogLog++ distinct counts and quantile
    sketches — the profile pass that runs where exact distinct/percentile
    would need an unbounded shuffle.

    Sketch *estimates* are engine-specific by construction, so the oracled
    output is (a) the exact values and (b) booleans asserting each engine's
    OWN sketch lands within the documented accuracy bound of its own exact
    value — the cross-engine-checkable statement of sketch correctness.
    (Spark HLL++ rsd defaults to 5%; bound set at 20% ≈ 4σ. Quantile bound:
    5% relative + 5.0 absolute.)"""
    events = table(spark, sf_dir, "events")
    ex_users = events.agg(F.countDistinct("user_id").alias("eu"))
    ex_events = events.agg(F.countDistinct("event_id").alias("ee"))
    pct = events.agg(
        F.expr("percentile(value, 0.50D)").alias("p50"),
        F.expr("percentile(value, 0.95D)").alias("p95"),
        F.expr("percentile(value, 0.99D)").alias("p99"),
    )
    ap = events.agg(
        F.approx_count_distinct("user_id").alias("au"),
        F.approx_count_distinct("event_id").alias("ae"),
        F.percentile_approx("value", 0.50, 10000).alias("a50"),
        F.percentile_approx("value", 0.95, 10000).alias("a95"),
        F.percentile_approx("value", 0.99, 10000).alias("a99"),
    )
    joined = ex_users.crossJoin(ex_events).crossJoin(pct).crossJoin(ap)
    return joined.select(
        F.col("eu").alias("exact_users"),
        F.col("ee").alias("exact_events"),
        (F.abs(F.col("au") - F.col("eu")) <= 0.2 * F.col("eu")).alias("users_approx_ok"),
        (F.abs(F.col("ae") - F.col("ee")) <= 0.2 * F.col("ee")).alias("events_approx_ok"),
        (F.abs(F.col("a50") - F.col("p50")) <= 0.05 * F.abs(F.col("p50")) + 5.0)
        .alias("q50_approx_ok"),
        (F.abs(F.col("a95") - F.col("p95")) <= 0.05 * F.abs(F.col("p95")) + 5.0)
        .alias("q95_approx_ok"),
        (F.abs(F.col("a99") - F.col("p99")) <= 0.05 * F.abs(F.col("p99")) + 5.0)
        .alias("q99_approx_ok"),
    )


@register(
    "kmeans_invariants",
    tags=("ext-sim", "ext-pq", "ext-bpe"),
    # The k-means centroids are float-iterative (BLAS matmul assign, mean
    # update) — no SQL engine can re-derive them bit-for-bit, so the
    # oracled output is the INVARIANTS the clustering must satisfy,
    # verified Spark-side into booleans the oracle pins TRUE (the same
    # self-bound contract `approx_sketches` uses). A false boolean or a
    # wrong count hash-mismatches — genuine driver evidence without
    # pretending float Lloyd iterations are portable. The PQ and BPE
    # tiers (round-6 verdict item #2) ride the same contract: their
    # training loops are iterative and driver-looped, but their defining
    # identities — ADC(codes) ≡ dot(q, reconstruction) on every emitted
    # top-k row, refine-recall ≥ the floor vs the exactly-derived
    # quantized-dot ranking, fold ≡ pandas-udf segmentation on the whole
    # vocabulary, pieces reconstruct their word, merge table identical
    # under a different input partitioning — fold to booleans, and the
    # vocab size / top-k row count / merge count are corpus-derived
    # values the oracle computes independently.
    oracle="""
        SELECT count(*) AS n_vectors,
               count(*) AS n_assigned,
               TRUE AS argmin_ok,
               TRUE AS recall_floor_ok,
               count(*) AS n_semdedup_decisions,
               TRUE AS semdedup_dropped_has_edge_ok,
               TRUE AS semdedup_no_kept_edge_ok,
               TRUE AS semdedup_one_keep_per_component_ok,
               (SELECT 10 * count(*) FROM embeddings WHERE vec_id < 8)
                   AS n_pq_topk_rows,
               TRUE AS pq_adc_exact_ok,
               TRUE AS pq_recall_floor_ok,
               (SELECT count(DISTINCT w) FROM
                   (SELECT unnest(str_split(text, ' ')) AS w FROM documents))
                   AS n_bpe_vocab,
               CAST(12 AS INTEGER) AS n_bpe_merges,
               TRUE AS bpe_fold_udf_equiv_ok,
               TRUE AS bpe_reconstruct_ok,
               TRUE AS bpe_deterministic_ok,
               (SELECT count(*) FROM documents) AS n_clf_scored,
               TRUE AS clf_gain_ok,
               TRUE AS clf_bit_stable_ok,
               TRUE AS clf_grid_ok,
               TRUE AS clf_auc_ok
        FROM embeddings
    """,
)
def kmeans_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IVF pipeline over a TRAINED quantizer, graded by its Lloyd
    invariants: k-means builds the coarse partition (deterministic init:
    k lowest-id vectors; 3 Lloyd iterations), then the relation asserts

    - n_assigned = n_vectors — the assignment is total (every vector got
      exactly one cluster);
    - argmin_ok — every vector's assigned centroid is within a relative
      epsilon of its TRUE nearest emitted centroid's distance — the
      defining Lloyd assignment invariant, re-derived declaratively from
      the emitted (assignment, centroid) relations. Epsilon, not exact:
      the assigner computes argmin of ‖c‖²−2v·c in NumPy BLAS (summation
      order unspecified) while this check folds Σ(v−c)² left-to-right in
      doubles — for a vector near-equidistant between two centroids the
      two roundings can legitimately disagree, so exact best==assigned
      would be flaky BY CONSTRUCTION against an oracle that pins TRUE. A
      genuinely wrong assignment misses by a macroscopic margin, which
      the epsilon (1e-9 relative + 1e-6 absolute on quantized-integer
      distances) never absorbs;
    - recall_floor_ok — searching only each probe's own cluster (the IVF
      prune this quantizer exists for) recovers ≥ 20% of the exact
      brute-force top-5 pooled over the 8 probe vectors — the nprobe=1
      floor on random data (same bound the pytest gate pins);
    - semdedup_* — SemDeDup (ext/semdedup.py) over the SAME trained
      clustering, graded by its defining invariants. The keep/drop set
      itself depends on the float-iterative clustering, so — like the
      centroids — it cannot be a portable column; what IS portable is that
      the decisions form a valid dedup: n_semdedup_decisions = |corpus|
      (the decision is total), every dropped row has edge evidence,
      no within-cluster duplicate edge survives between two kept rows,
      and each duplicate component keeps exactly one representative.
      Threshold 400_000 ppm — far below a production near-dup bar (the
      testdata's random vectors top out at cosine ≈ 0.48) but exactly the
      regime that makes the graph non-trivial: edges, chains, and real
      drops at every SF, so a broken component loop or keep rule cannot
      pass vacuously. The brute-force-vs-NumPy equivalence is pinned at
      production-shaped thresholds in tests/test_semdedup.py;
    - pq_* / n_pq_topk_rows — product quantization (ext/quantization.py)
      over the same embeddings: train m=8,k=16 codebooks, encode, and
      assert (a) every emitted flat-ADC top-10 score EQUALS
      dot(quantize(q), reconstruct(codes)) — the integer-exactness
      identity that defines ADC correctness — and (b) the refine=50
      re-ranked top-10 recovers at least HALF of the exact
      quantized-dot top-10 pooled over the 8 probes (measured 0.72-0.75
      on this corpus; 0.5 is the non-vacuous floor). n_pq_topk_rows is
      the oracle-derived 8·10 row count;
    - bpe_* / n_bpe_vocab / n_bpe_merges — BPE merge training
      (ext/bpe.py) over the documents corpus: 12 merges trained
      (min_pair_count=2 never stops early on this corpus — the count is
      pinned), the merge table is IDENTICAL when trained from a
      differently-partitioned input (integer argmax + lexicographic
      tie-break determinism), the Catalyst-fold segmentation and the
      Arrow pandas_udf twin agree on the ENTIRE vocabulary, and every
      word's pieces concatenate back to word+EOW. n_bpe_vocab is the
      oracle-derived distinct-word count;
    - clf_* / n_clf_scored — the trainable quality classifier
      (ext/classifier.py) distilling the heuristic gate's own keep
      verdict over the documents corpus: features = the quality-signal
      battery standardized under exact-integer moments, 12 gradient
      iterations. clf_bit_stable_ok pins that retraining from a
      differently-partitioned input yields IDENTICAL weights (the
      integer-sum gradient contract — the property float reductions
      cannot give), clf_grid_ok that weights and stats froze to the
      2⁻¹⁶ grid, clf_gain_ok that in-sample agreement with the gate
      beats the majority-class baseline by ≥ 5 points in exact integer
      algebra (measured ≈ +19 at sf0.001 and sf0.01; both label classes
      are populated at every shipped SF, ~30% keep), and clf_auc_ok
      (r8) that the REAL trained model's ranking quality —
      `ext/classifier.py:evaluate_auc` over its own in-sample
      probabilities, spread form — clears 0.80 AUC (measured 0.955 /
      0.971 at sf0.001 / sf0.01; the threshold-free eval the dim='auc'
      leg exercises on an exact-integer score is here wired to the
      float-iterative model through the invariant contract).
      n_clf_scored is the oracle-derived corpus count."""
    from concurrent.futures import ThreadPoolExecutor

    from beeper_matric_etl_tool_spark.ext.bpe import train_bpe_merges
    from beeper_matric_etl_tool_spark.ext.classifier import train_logreg
    from beeper_matric_etl_tool_spark.ext.clustering import kmeans
    from beeper_matric_etl_tool_spark.ext.dedup import connected_components
    from beeper_matric_etl_tool_spark.ext.quantization import (
        encode_pq,
        pq_topk,
        train_pq,
    )
    from beeper_matric_etl_tool_spark.ext.semdedup import semantic_edges

    emb = table(spark, sf_dir, "embeddings")
    docs_bpe = table(spark, sf_dir, "documents")

    # The construction phase runs FIVE mutually independent driver-looped
    # trainers (Lloyd kmeans → semdedup components; PQ codebooks; the two
    # determinism-twin BPE trainings; the two twin logreg trainings), each
    # a chain of tiny one-or-few-task jobs whose wall is pure scheduling
    # floor. Sequential submission leaves the session idle; overlapping
    # the independent chains from a small driver thread pool (guide §2.6)
    # back-fills those floors. Every trainer's output is deterministic in
    # its input alone (integer-sum gradient/update contracts), so
    # concurrent submission cannot change any emitted value.
    def _cluster_chain():
        assignments, centroids = kmeans(emb, k=8, iterations=3)
        clustered = emb.join(assignments, on="vec_id")
        edges = semantic_edges(
            clustered.select("vec_id", "embedding", "cluster_id"),
            threshold_ppm=400_000,
        ).localCheckpoint(eager=False)
        components = connected_components(edges, src_col="id_a", dst_col="id_b")
        return assignments, centroids, clustered, edges, components

    def _pq_chain():
        books = train_pq(emb, m=8, k=16, iterations=3)
        enc = encode_pq(emb, books).localCheckpoint(eager=True)
        return books, enc

    with ThreadPoolExecutor(max_workers=4) as _pool:
        _f_cluster = _pool.submit(_cluster_chain)
        _f_pq = _pool.submit(_pq_chain)
        _f_bpe1 = _pool.submit(train_bpe_merges, docs_bpe, 12, 2)
        _f_bpe2 = _pool.submit(
            train_bpe_merges, docs_bpe.repartition(5), 12, 2
        )
        (
            (assignments, centroids, clustered, edges, components),
            (books, enc),
            merges,
            merges_repart,
        ) = results(_f_cluster, _f_pq, _f_bpe1, _f_bpe2)

    n_vectors = emb.agg(F.count(F.lit(1)).alias("n_vectors"))
    n_assigned = assignments.agg(F.count(F.lit(1)).alias("n_assigned"))

    # Lloyd argmin invariant, epsilon-tied (see docstring). Centroids are
    # k rows — broadcast nested loop is the right plan.
    diff = F.zip_with(
        F.col("embedding"), F.col("centroid"),
        lambda x, c: x.cast("double") - c.cast("double"),
    )
    d2 = F.aggregate(
        F.transform(diff, lambda d: d * d), F.lit(0.0), lambda acc, x: acc + x
    )
    per_vec = (
        clustered.select("vec_id", "embedding", F.col("cluster_id").alias("assigned"))
        .crossJoin(F.broadcast(centroids.select("cluster_id", "centroid")))
        .withColumn("__d2", d2)
        .groupBy("vec_id", "assigned")
        .agg(
            F.min("__d2").alias("__min_d2"),
            F.max(
                F.when(F.col("cluster_id") == F.col("assigned"), F.col("__d2"))
            ).alias("__assigned_d2"),
        )
    )
    tol = F.lit(1e-9) * F.col("__min_d2") + F.lit(1e-6)
    argmin_ok = per_vec.agg(
        (F.count_if(F.col("__assigned_d2") > F.col("__min_d2") + tol) == 0).alias("argmin_ok")
    )

    # IVF-vs-brute recall over the trained partition, pooled across probes
    probes = emb.filter(F.col("vec_id") < 8)
    brute = xsim.cosine_topk(probes, emb, k=5)
    approx = xsim.cosine_topk(
        clustered.filter(F.col("vec_id") < 8), clustered, k=5, partition_col="cluster_id"
    )
    hits = approx.join(brute, on=["query_id", "neighbor_id"], how="left_semi").agg(
        F.count(F.lit(1)).alias("__hits")
    )
    denom = brute.agg(F.count(F.lit(1)).alias("__expected"))
    recall_ok = hits.crossJoin(F.broadcast(denom)).select(
        (F.col("__hits") * 5 >= F.col("__expected")).alias("recall_floor_ok")
    )

    # SemDeDup over the same trained clustering (no second kmeans build):
    # threshold graph → components → lowest-id-wins decisions, then the
    # four defining invariants folded to booleans the oracle pins TRUE.
    # (edges/components were trained in _cluster_chain above.)
    decisions = (
        clustered.select("vec_id")
        .join(
            components.select(F.col("node").alias("vec_id"), "component"),
            on="vec_id",
            how="left",
        )
        .select(
            "vec_id",
            F.coalesce(F.col("component"), F.col("vec_id")).alias("component"),
            (F.coalesce(F.col("component"), F.col("vec_id")) == F.col("vec_id")).alias(
                "keep"
            ),
        )
        .localCheckpoint(eager=False)
    )
    n_decisions = decisions.agg(F.count(F.lit(1)).alias("n_semdedup_decisions"))
    touched = (
        edges.select(F.col("id_a").alias("vec_id"))
        .unionByName(edges.select(F.col("id_b").alias("vec_id")))
        .distinct()
    )
    dropped_has_edge = (
        decisions.filter(~F.col("keep"))
        .join(touched, on="vec_id", how="left_anti")
        .agg((F.count(F.lit(1)) == 0).alias("semdedup_dropped_has_edge_ok"))
    )
    keep_of = decisions.select("vec_id", "keep")
    no_kept_edge = (
        edges.join(
            keep_of.select(F.col("vec_id").alias("id_a"), F.col("keep").alias("__ka")),
            on="id_a",
        )
        .join(
            keep_of.select(F.col("vec_id").alias("id_b"), F.col("keep").alias("__kb")),
            on="id_b",
        )
        .agg(
            (F.count_if(F.col("__ka") & F.col("__kb")) == 0).alias(
                "semdedup_no_kept_edge_ok"
            )
        )
    )
    one_keep = (
        decisions.groupBy("component")
        .agg(F.count_if(F.col("keep")).alias("__kept"))
        .agg(
            ((F.min("__kept") == 1) & (F.max("__kept") == 1)).alias(
                "semdedup_one_keep_per_component_ok"
            )
        )
    )

    # --- PQ invariants over the same embeddings (docstring pq_* legs) ---
    from pyspark.sql import Window as _W

    from beeper_matric_etl_tool_spark.ext.quantization import reconstruct_pq
    from beeper_matric_etl_tool_spark.ext.similarity import dot, quantize

    # (books/enc were trained in _pq_chain above.)
    pq_probes = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    pq_top = pq_topk(pq_probes, enc, books, k=10).localCheckpoint(eager=True)
    n_pq = pq_top.agg(F.count(F.lit(1)).alias("n_pq_topk_rows"))
    qd = pq_probes.select("query_id", quantize(F.col("embedding")).alias("__q"))
    adc_ok = (
        pq_top.join(reconstruct_pq(enc, books), on="vec_id")
        .join(F.broadcast(qd), on="query_id")
        .agg(
            (
                F.count_if(F.col("score") != dot(F.col("__q"), F.col("vec")))
                == 0
            ).alias("pq_adc_exact_ok")
        )
    )
    refined = pq_topk(pq_probes, enc, books, k=10, refine=50, corpus=emb)
    exact_scores = qd.crossJoin(
        emb.select("vec_id", quantize(F.col("embedding")).alias("__v"))
    ).select("query_id", "vec_id", dot(F.col("__q"), F.col("__v")).alias("__s"))
    we = _W.partitionBy("query_id").orderBy(
        F.col("__s").desc(), F.col("vec_id").asc()
    )
    exact10 = (
        exact_scores.withColumn("__r", F.row_number().over(we))
        .filter(F.col("__r") <= 10)
        .select("query_id", "vec_id")
    )
    pq_hits = refined.join(
        exact10, on=["query_id", "vec_id"], how="left_semi"
    ).agg(F.count(F.lit(1)).alias("__h"))
    pq_exp = exact10.agg(F.count(F.lit(1)).alias("__e"))
    pq_recall_ok = pq_hits.crossJoin(F.broadcast(pq_exp)).select(
        (F.col("__h") * 2 >= F.col("__e")).alias("pq_recall_floor_ok")
    )

    # --- BPE invariants over the documents corpus (docstring bpe_* legs) ---
    from beeper_matric_etl_tool_spark.ext.bpe import (
        EOW,
        bpe_segment,
        bpe_segment_udf,
    )

    # (merges/merges_repart were trained concurrently above.)
    vocab = (
        docs_bpe.select(F.explode(xtext.tokens("text")).alias("word"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_vocab = vocab.agg(F.count(F.lit(1)).alias("n_bpe_vocab"))
    fold = bpe_segment(vocab, merges).select(
        "word", F.col("pieces").alias("__pf")
    )
    udf_seg = bpe_segment_udf(vocab, merges).select(
        "word", F.col("pieces").alias("__pu")
    )
    fold_udf_ok = (
        fold.join(udf_seg, on="word")
        .agg(
            (F.count_if(F.col("__pf") != F.col("__pu")) == 0).alias(
                "bpe_fold_udf_equiv_ok"
            )
        )
    )
    recon_ok = fold.agg(
        (
            F.count_if(
                F.concat_ws("", F.col("__pf"))
                != F.concat(F.col("word"), F.lit(EOW))
            )
            == 0
        ).alias("bpe_reconstruct_ok")
    )
    bpe_scalars = spark.range(1).select(
        F.lit(len(merges)).cast("int").alias("n_bpe_merges"),
        F.lit(merges == merges_repart).alias("bpe_deterministic_ok"),
    )

    # --- trainable-classifier invariants (docstring clf_* legs) ---
    from beeper_matric_etl_tool_spark.ext.classifier import (
        classify,
        feature_stats,
        quality_features,
        standardize,
    )
    from beeper_matric_etl_tool_spark.ext.quality import (
        quality_signal_columns,
        quality_verdict_columns,
    )

    sig = quality_signal_columns("text", lang_col="lang")
    feats = quality_features("text", lang_col="lang")
    clf_cols = list(feats)
    labeled = (
        docs_bpe.select(
            "doc_id",
            *[c.alias(n) for n, c in sig.items()],
            *[c.alias(k) for k, c in feats.items()],
        )
        .select(
            "doc_id",
            *clf_cols,
            quality_verdict_columns()["keep"].cast("int").alias("__y"),
        )
        .localCheckpoint(eager=True)
    )
    clf_stats = feature_stats(labeled, clf_cols)
    z = standardize(labeled, clf_stats).localCheckpoint(eager=True)
    # the determinism-twin trainings are independent given z — overlap
    # them (guide §2.6); bit-identical weights either way is exactly what
    # clf_bit_stable_ok asserts.
    with ThreadPoolExecutor(max_workers=2) as _pool:
        _f_w2 = _pool.submit(
            train_logreg, z.repartition(5), clf_cols, "__y", 12, 1.0
        )
        w_clf = train_logreg(z, clf_cols, "__y", iterations=12, lr=1.0)
        w_clf2 = _f_w2.result()
    clf_agg = classify(z, w_clf, clf_cols).agg(
        F.count(F.lit(1)).alias("n_clf_scored"),
        F.count_if(
            F.col("quality_prob_keep").cast("int") == F.col("__y")
        ).alias("__clf_correct"),
        F.sum("__y").alias("__clf_pos"),
    )
    clf_rows = clf_agg.select(
        "n_clf_scored",
        # acc ≥ majority + 0.05, in exact integer algebra:
        # 20·correct ≥ 20·max(pos, n−pos) + n
        (
            F.col("__clf_correct") * 20
            >= F.greatest(
                F.col("__clf_pos"), F.col("n_clf_scored") - F.col("__clf_pos")
            )
            * 20
            + F.col("n_clf_scored")
        ).alias("clf_gain_ok"),
    )
    from beeper_matric_etl_tool_spark.ext.classifier import evaluate_auc

    clf_auc = evaluate_auc(
        classify(z, w_clf, clf_cols).select(
            "quality_prob", (F.col("__y") == 1).alias("__lab")
        ),
        "quality_prob",
        "__lab",
        spread=True,
    ).select((F.col("auc_ppm") >= F.lit(800_000)).alias("clf_auc_ok"))
    clf_scalars = spark.range(1).select(
        F.lit(w_clf == w_clf2).alias("clf_bit_stable_ok"),
        F.lit(
            all(x * 65536 == int(x * 65536) for x in w_clf)
            and all(
                m * 65536 == int(m * 65536) and s * 65536 == int(s * 65536)
                for m, s in clf_stats.values()
            )
        ).alias("clf_grid_ok"),
    )

    return (
        n_vectors.crossJoin(F.broadcast(n_assigned))
        .crossJoin(F.broadcast(argmin_ok))
        .crossJoin(F.broadcast(recall_ok))
        .crossJoin(F.broadcast(n_decisions))
        .crossJoin(F.broadcast(dropped_has_edge))
        .crossJoin(F.broadcast(no_kept_edge))
        .crossJoin(F.broadcast(one_keep))
        .crossJoin(F.broadcast(n_pq))
        .crossJoin(F.broadcast(adc_ok))
        .crossJoin(F.broadcast(pq_recall_ok))
        .crossJoin(F.broadcast(n_vocab))
        .crossJoin(F.broadcast(bpe_scalars))
        .crossJoin(F.broadcast(fold_udf_ok))
        .crossJoin(F.broadcast(recon_ok))
        .crossJoin(F.broadcast(clf_rows))
        .crossJoin(F.broadcast(clf_scalars))
        .crossJoin(F.broadcast(clf_auc))
    )


#: the BM25 leg's fixed query — also the query tests/test_search.py oracles
_BM25_QUERY = ("the", "data", "model")

#: the batch dense-retrieval leg's query SET (method='dense2'):
#: dense_hash_topk_batch scores all of them in ONE corpus pass; q0 is the
#: single-query leg's query so the driver also pins batch ≡ per-query.
_DENSE2_QUERIES: dict[str, tuple[str, ...]] = {
    "q0": _BM25_QUERY,
    "q1": ("alpha", "of", "the"),
}

#: the PMI collocation leg's rare-pair floor and list size — one
#: definition feeding both planes (ext/search.py:pmi_collocations)
PMI_MIN_COUNT = 5
PMI_TOP_K = 20


@register(
    "tfidf_top_terms",
    tags=("ext-text", "ext-search"),
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM documents
        ),
        tf AS (
            SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
        ),
        df AS (
            SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term
        ),
        n AS (SELECT count(*) AS n_docs FROM documents),
        idf AS (
            SELECT term,
                   CAST(floor(1000000 * ln((n.n_docs + 1.0) / (df.df + 1.0)))
                        AS BIGINT) AS idf_ppm
            FROM df CROSS JOIN n
        ),
        scored AS (
            SELECT tf.doc_id, tf.term,
                   CAST(tf.tf * idf.idf_ppm AS BIGINT) AS tfidf_ppm
            FROM tf JOIN idf USING (term)
        ),
        base AS (
            SELECT doc_id, len(str_split(text, ' ')) AS dl FROM documents
        ),
        stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM base),
        bhits AS (
            SELECT t.doc_id, b.dl, t.term, count(*) AS tf
            FROM toks t JOIN base b USING (doc_id)
            WHERE t.term IN ({", ".join(f"'{t}'" for t in _BM25_QUERY)})
            GROUP BY t.doc_id, b.dl, t.term
        ),
        btdf AS (
            SELECT term, count(DISTINCT doc_id) AS df FROM bhits GROUP BY term
        ),
        bscored AS (
            SELECT h.doc_id,
                   CAST(floor(
                       CAST(floor(1000000.0
                            * ln(1.0 + (s.n_docs - t.df + 0.5) / (t.df + 0.5)))
                         AS BIGINT)
                       * (h.tf * (1.2 + 1.0))
                       / (h.tf + 1.2 * (1.0 - 0.75 + 0.75 * h.dl / s.avgdl))
                   ) AS BIGINT) AS contrib_ppm
            FROM bhits h JOIN btdf t USING (term) CROSS JOIN stats s
        ),
        bsum AS (
            SELECT doc_id, CAST(sum(contrib_ppm) AS BIGINT) AS score_ppm
            FROM bscored GROUP BY doc_id
        ),
        lmvocab AS (
            SELECT term, CAST(sum(tf) AS BIGINT) AS ct FROM tf GROUP BY term
        ),
        lmstats AS (
            SELECT CAST(sum(ct) AS BIGINT) AS n_total,
                   CAST(count(*) AS BIGINT) AS v FROM lmvocab
        ),
        lmnll AS (
            SELECT term,
                   CAST(floor(1000000 * ln(
                       (s.n_total + s.v) * 1.0 / (ct + 1.0))) AS BIGINT)
                       AS nll_ppm
            FROM lmvocab CROSS JOIN lmstats s
        ),
        lmdoc AS (
            SELECT tf.doc_id,
                   CAST(sum(tf.tf * n.nll_ppm) // sum(tf.tf) AS BIGINT)
                       AS score_ppm
            FROM tf JOIN lmnll n USING (term) GROUP BY tf.doc_id
        ),
        bgr AS (
            SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
            FROM (
                SELECT doc_id, toks,
                       unnest(generate_series(1, len(toks) - 1)) AS i
                FROM (
                    SELECT doc_id, str_split(text, ' ') AS toks
                    FROM documents
                ) WHERE len(toks) >= 2
            )
        ),
        bgtf AS (
            SELECT doc_id, w1, w2, count(*) AS tf
            FROM bgr GROUP BY doc_id, w1, w2
        ),
        bgc AS (
            SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS c12
            FROM bgtf GROUP BY w1, w2
        ),
        bgnll AS (
            SELECT c.w1, c.w2,
                   CAST(floor(-1000000.0 * ln(
                       {0.7!r} * c.c12 / u1.ct
                       + {1.0 - 0.7!r} * (u2.ct + 1.0) / (s.n_total + s.v)
                   )) AS BIGINT) AS nll_ppm
            FROM bgc c
            JOIN lmvocab u1 ON u1.term = c.w1
            JOIN lmvocab u2 ON u2.term = c.w2
            CROSS JOIN lmstats s
        ),
        bgdoc AS (
            SELECT t.doc_id,
                   CAST(sum(t.tf * n.nll_ppm) // sum(t.tf) AS BIGINT)
                       AS score_ppm
            FROM bgtf t JOIN bgnll n ON n.w1 = t.w1 AND n.w2 = t.w2
            GROUP BY t.doc_id
        ),
        dvb AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT) % 64 AS b
            FROM toks WHERE term <> ''
        ),
        dvc AS (
            SELECT doc_id, b, count(*) AS c FROM dvb GROUP BY doc_id, b
        ),
        qvb AS (
            SELECT CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % 64 AS b,
                   count(*) AS qc
            FROM (VALUES {", ".join(f"('{t}')" for t in _BM25_QUERY)}) q(t)
            GROUP BY b
        ),
        dsc AS (
            SELECT v.doc_id,
                   CAST(sum(v.c * coalesce(q.qc, 0)) AS BIGINT) AS dot,
                   CAST(sum(v.c * v.c) AS BIGINT) AS norm2
            FROM dvc v LEFT JOIN qvb q USING (b) GROUP BY v.doc_id
        ),
        denseleg AS (
            SELECT doc_id, score_ppb, rnk FROM (
                SELECT doc_id,
                       CAST((dot * dot * 1000000000) // norm2 AS BIGINT)
                           AS score_ppb,
                       row_number() OVER (
                           ORDER BY (dot * dot * 1000000000) // norm2 DESC,
                                    doc_id) AS rnk
                FROM dsc WHERE dot > 0
            ) WHERE rnk <= 10
        ),
        q2 AS (
            SELECT qk, t FROM (VALUES {", ".join(
                f"('{qk}', '{t}')"
                for qk, terms in _DENSE2_QUERIES.items()
                for t in terms
            )}) v(qk, t)
        ),
        qvb2 AS (
            SELECT qk,
                   CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % 64 AS b,
                   count(*) AS qc
            FROM q2 GROUP BY qk, b
        ),
        dsc2 AS (
            SELECT k.qk, v.doc_id,
                   CAST(sum(v.c * coalesce(q.qc, 0)) AS BIGINT) AS dot,
                   CAST(sum(v.c * v.c) AS BIGINT) AS norm2
            FROM dvc v CROSS JOIN (SELECT DISTINCT qk FROM q2) k
            LEFT JOIN qvb2 q ON q.qk = k.qk AND q.b = v.b
            GROUP BY k.qk, v.doc_id
        ),
        dense2 AS (
            SELECT qk, doc_id, score_ppb, rnk FROM (
                SELECT qk, doc_id,
                       CAST((dot * dot * 1000000000) // norm2 AS BIGINT)
                           AS score_ppb,
                       row_number() OVER (PARTITION BY qk
                           ORDER BY (dot * dot * 1000000000) // norm2 DESC,
                                    doc_id) AS rnk
                FROM dsc2 WHERE dot > 0
            ) WHERE rnk <= 10
        ),
        bmr AS (
            SELECT doc_id, rnk FROM (
                SELECT doc_id, row_number() OVER (
                    ORDER BY score_ppm DESC, doc_id) AS rnk
                FROM bsum
            ) WHERE rnk <= 10
        ),
        rrfs AS (
            SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS rrf
            FROM (
                SELECT doc_id, 1000000000 // (60 + rnk) AS contrib FROM bmr
                UNION ALL
                SELECT doc_id, 1000000000 // (60 + rnk) FROM denseleg
            ) GROUP BY doc_id
        ),
        rrfleg AS (
            SELECT doc_id, rrf,
                   row_number() OVER (ORDER BY rrf DESC, doc_id) AS rnk
            FROM rrfs
        ),
        pmis AS (
            SELECT c.w1, c.w2,
                   CAST(floor(1000000.0 * ln(
                       (c.c12 * 1.0 / u1.ct) * (s.n_total * 1.0 / u2.ct)
                   )) AS BIGINT) AS pmi_ppm
            FROM bgc c
            JOIN lmvocab u1 ON u1.term = c.w1
            JOIN lmvocab u2 ON u2.term = c.w2
            CROSS JOIN lmstats s
            WHERE c.c12 >= {PMI_MIN_COUNT}
        ),
        pmileg AS (
            SELECT w1, w2, pmi_ppm,
                   row_number() OVER (ORDER BY pmi_ppm DESC, w1, w2) AS rnk
            FROM pmis
        )
        SELECT 'tfidf' AS method, doc_id, term, tfidf_ppm AS score_ppm,
               rnk AS rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY tfidf_ppm DESC, term) AS rnk
            FROM scored
        ) WHERE rnk <= 5
        UNION ALL
        SELECT 'bm25', doc_id, CAST(NULL AS VARCHAR), score_ppm, rnk
        FROM (
            SELECT *, row_number() OVER (
                ORDER BY score_ppm DESC, doc_id) AS rnk
            FROM bsum
        ) WHERE rnk <= 10
        UNION ALL
        SELECT 'lm', doc_id, CAST(NULL AS VARCHAR), score_ppm,
               CAST(NULL AS INTEGER)
        FROM lmdoc
        UNION ALL
        SELECT 'lm2', doc_id, CAST(NULL AS VARCHAR), score_ppm,
               CAST(NULL AS INTEGER)
        FROM bgdoc
        UNION ALL
        SELECT 'dense', doc_id, CAST(NULL AS VARCHAR), score_ppb, rnk
        FROM denseleg
        UNION ALL
        SELECT 'dense2', doc_id, qk, score_ppb, rnk
        FROM dense2
        UNION ALL
        SELECT 'rrf', doc_id, CAST(NULL AS VARCHAR), rrf, rnk
        FROM rrfleg
        UNION ALL
        SELECT 'pmi', CAST(NULL AS BIGINT), w1 || ' ' || w2, pmi_ppm, rnk
        FROM pmileg WHERE rnk <= {PMI_TOP_K}
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both lexical-relevance scorers over one corpus, in one relation:

    method='tfidf' — per-document top-5 keyword extraction (ranks a
    document's OWN terms). The document-frequency table is tiny
    (vocabulary-sized) and broadcasts onto the term-frequency table; at
    100 TB the explode→tf aggregation is the only data-sized shuffle.
    idf is floored to integer ppm PER TERM and only then multiplied by
    tf: ln() is the one transcendental the catalog uses, and
    Math.log/libm are not guaranteed correctly rounded — flooring
    1e6·tf·ln(x) per (doc,term) row would give every row its own chance
    of a cross-engine last-ulp floor flip, while per-term flooring caps
    the exposure at vocabulary size AND makes the in-document ranking
    (tf·idf_ppm, exact integers) deterministic with the term tie-break.

    method='bm25' — Okapi BM25 ranked retrieval (ranks DOCUMENTS against
    the fixed query 'the data model'; k1=1.2, b=0.75): the corpus-search
    surface contamination triage and eval-curation need
    (ext/search.py:bm25_scores — tf saturation + length normalization,
    per-(doc,term) contributions floored to ppm then integer-summed so
    the score is engine-portable). Top-10 by (score desc, id) — the k
    rows come from a TakeOrderedAndProject, and the rank window runs
    over those k rows only, so no global sort at any scale.

    method='lm' — unigram-LM mean-NLL scoring of EVERY document
    (`ext/search.py:unigram_nll_scores` — the CCNet-style perplexity
    filter): per-term nll_ppm floored once per vocabulary entry, per-doc
    score an exact integer DIV, so the full per-doc score vector
    hash-matches the oracle bit-for-bit. rank is NULL — the score is a
    filter threshold, not a ranking.

    method='lm2' — Jelinek-Mercer interpolated BIGRAM perplexity
    (`ext/search.py:bigram_nll_scores`, λ=0.7): P(w2|w1) = λ·c12/c1 +
    (1−λ)·(c2+1)/(N+V). Word ORDER enters the score — "the the the"
    scores badly where the unigram model loves it. The λ and 1−λ
    literals are the SAME IEEE doubles on both planes (the SQL
    interpolates repr(1.0−0.7), not a re-rounded 0.3), and the float
    chain has bigram-vocabulary-many distinct inputs, the lm leg's
    exposure argument one order up.

    method='dense' — hashed-embedding cosine top-10 for the same query
    (`ext/search.py:dense_hash_topk`): both sides bucket through the
    `ext/embed.py` md5 formula, ranking by the integer-exact
    (dot²·1e9) DIV ‖d‖² (query norm constant → drops out), so the
    order is engine-portable with no float comparison anywhere.

    method='dense2' — the BATCH dense form
    (`ext/search.py:dense_hash_topk_batch`): the `_DENSE2_QUERIES` set
    scored in ONE corpus pass (queries broadcast, per-doc vector folded
    once below the join, local-rank prune before the only exchange);
    `term` carries the query key, and q0 = the dense leg's query, so a
    green row pins batch ≡ per-query.

    method='rrf' — reciprocal rank fusion of the bm25 and dense top-10
    lists (`ext/search.py:rrf_fuse`, Cormack et al. 2009): score =
    Σ 1e9 DIV (60+rank) — the hybrid-retrieval surface; only RANKS
    cross the leg boundary, so the ppm/ppb score scales never mix.

    method='pmi' — top-PMI_TOP_K collocations
    (`ext/search.py:pmi_collocations`): pmi_ppm = floor(1e6·ln(c12·N /
    (c1·c2))) over pairs with c12 ≥ PMI_MIN_COUNT, (pmi desc, w1, w2)
    tie-break; doc_id NULL, term = 'w1 w2'."""
    docs = table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    from beeper_matric_etl_tool_spark.ext.search import bm25_topk, unigram_nll_scores

    # Tokenize ONCE (r13, guide §2.4/§7.3): five of the eight legs (tfidf,
    # bm25, lm, lm2, pmi) consume the same token stream; before this the
    # union re-embedded the scan+tokenize subtree per leg (40 scans, 74
    # exchanges in the plan). A LAZY localCheckpoint materializes the
    # (doc_id, tokens) frame in the first action and every leg reads the
    # persisted partitions. The dense legs hash raw text (a different
    # kernel) and keep their own scans. Token values are unchanged, so
    # every leg's scores are bit-identical.
    dtoks = docs.select(
        "doc_id", xtext.tokens("text").alias("__toks")
    ).localCheckpoint(eager=False)
    toks = dtoks.select("doc_id", F.explode("__toks").alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # df per term = number of distinct docs containing it = the (doc,term)
    # row count of tf — derived from the vocabulary-sized tf relation
    # instead of a second pass over the token stream (same value by
    # construction: tf has exactly one row per (doc, term)).
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.count()  # scalar (one tiny job) — becomes a literal in the plan
    idf = dfreq.select(
        "term",
        F.floor(
            F.lit(1_000_000)
            * F.log((F.lit(n_docs) + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
        ).cast("long").alias("idf_ppm"),
    )
    scored = tf.join(F.broadcast(idf), on="term").select(
        "doc_id", "term",
        (F.col("tf") * F.col("idf_ppm")).cast("long").alias("tfidf_ppm"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf_ppm").desc(), F.col("term").asc())
    tfidf_leg = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            F.lit("tfidf").alias("method"),
            "doc_id", "term",
            F.col("tfidf_ppm").alias("score_ppm"),
            "rank",
        )
    )

    # bm25_topk emits rank itself (windowed over the already-limited k
    # rows — the global window runs on a bounded frame, never the corpus)
    bm25_leg = bm25_topk(dtoks, list(_BM25_QUERY), k=10, toks_col="__toks").select(
        F.lit("bm25").alias("method"),
        "doc_id",
        F.lit(None).cast("string").alias("term"),
        "score_ppm",
        "rank",
    )
    lm_leg = unigram_nll_scores(dtoks, toks_col="__toks").select(
        F.lit("lm").alias("method"),
        "doc_id",
        F.lit(None).cast("string").alias("term"),
        "score_ppm",
        F.lit(None).cast("int").alias("rank"),
    )

    # method='lm2' — Jelinek-Mercer interpolated BIGRAM perplexity
    # (ext/search.py:bigram_nll_scores): word ORDER enters the score, so
    # degenerate repetition the unigram model loves scores badly. rank is
    # NULL — a filter threshold, like 'lm'.
    from beeper_matric_etl_tool_spark.ext.search import (
        bigram_nll_scores,
        dense_hash_topk,
        rrf_fuse,
    )

    lm2_leg = bigram_nll_scores(dtoks, toks_col="__toks").select(
        F.lit("lm2").alias("method"),
        "doc_id",
        F.lit(None).cast("string").alias("term"),
        "score_ppm",
        F.lit(None).cast("int").alias("rank"),
    )

    # method='dense' — hashed-embedding cosine top-10 for the same query,
    # integer-exact ((dot²·1e9) DIV ‖d‖², the query norm drops out of the
    # ordering); method='rrf' — reciprocal rank fusion of the bm25 and
    # dense top-10 lists (1e9 DIV (60+rank), Cormack et al. 2009): the
    # hybrid-retrieval surface, rank-only so the ppm/ppb scales never mix.
    dense_rk = dense_hash_topk(docs, list(_BM25_QUERY), k=10, dim=64)
    dense_leg = dense_rk.select(
        F.lit("dense").alias("method"),
        "doc_id",
        F.lit(None).cast("string").alias("term"),
        F.col("score_ppb").alias("score_ppm"),
        "rank",
    )
    # method='dense2' — the BATCH form (ext/search.py:
    # dense_hash_topk_batch): the whole query SET scores in one corpus
    # pass (queries broadcast, doc vectors fold once below the join,
    # local-rank prune bounds the per-query sort); term carries the
    # query key. q0 is the single-query leg's query, so the driver row
    # also pins batch ≡ per-query end to end.
    from beeper_matric_etl_tool_spark.ext.search import dense_hash_topk_batch

    qframe = spark.createDataFrame(
        [(qk, " ".join(terms)) for qk, terms in _DENSE2_QUERIES.items()],
        "qk string, text string",
    )
    dense2_leg = dense_hash_topk_batch(
        docs, qframe, k=10, dim=64, query_id_col="qk"
    ).select(
        F.lit("dense2").alias("method"),
        "doc_id",
        F.col("qk").alias("term"),
        F.col("score_ppb").alias("score_ppm"),
        "rank",
    )
    fused = rrf_fuse(
        [bm25_leg.select("doc_id", "rank"), dense_rk.select("doc_id", "rank")]
    )
    rrf_leg = fused.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("rrf_ppb").desc(), F.col("doc_id").asc())
        ),
    ).select(
        F.lit("rrf").alias("method"),
        "doc_id",
        F.lit(None).cast("string").alias("term"),
        F.col("rrf_ppb").alias("score_ppm"),
        "rank",
    )
    # method='pmi' — corpus-statistics collocation extraction
    # (ext/search.py:pmi_collocations, Church & Hanks 1990): top-k word
    # pairs by PMI over the rare-pair floor; term carries 'w1 w2',
    # doc_id is NULL (a corpus-level row, not a document row). The
    # oracle re-derives the bigram/unigram counts and the floored
    # ln-lift independently, so a green row pins the whole
    # count→join→score→rank chain.
    from beeper_matric_etl_tool_spark.ext.search import pmi_collocations

    pmi_leg = pmi_collocations(
        dtoks, min_count=PMI_MIN_COUNT, k=PMI_TOP_K, toks_col="__toks"
    ).select(
        F.lit("pmi").alias("method"),
        F.lit(None).cast("long").alias("doc_id"),
        F.concat_ws(" ", "w1", "w2").alias("term"),
        F.col("pmi_ppm").alias("score_ppm"),
        "rank",
    )
    return (
        tfidf_leg.unionByName(bm25_leg)
        .unionByName(lm_leg)
        .unionByName(lm2_leg)
        .unionByName(dense_leg)
        .unionByName(dense2_leg)
        .unionByName(rrf_leg)
        .unionByName(pmi_leg)
    )


# (the hash-holdout split is the 'split' dimension of `corpus_composition`)


#: deterministic batch-ingest fixture — written under a PER-USER /tmp dir
#: (atomic replace, content-addressed refresh) so BOTH the Spark query and
#: the DuckDB oracle (whose SQL embeds the path) see identical bytes. The
#: per-user suffix keeps two accounts on a shared host from fighting over
#: directory ownership. NOT written at import time (a query catalog import
#: must be side-effect-free): `ensure_ingest_fixture()` runs inside the
#: `token_positions` query body AND inside `registry.oracle_sql()`, so the
#: files exist before either plane can read them whatever order the driver
#: runs the two in. The content exercises every dead-letter class the
#: ingest contract defines: header stripping, type mismatch,
#: too-few/too-many columns, invalid JSON, JSON type mismatch, sparse JSON
#: (missing field -> NULL, still good).
INGEST_FIXTURE_DIR = os.path.join(
    tempfile.gettempdir(),
    f"spark-graft-ingest-fixture-{os.getuid() if hasattr(os, 'getuid') else 'u'}",
)
INGEST_CSV = os.path.join(INGEST_FIXTURE_DIR, "batch.csv")
INGEST_NDJSON = os.path.join(INGEST_FIXTURE_DIR, "batch.ndjson")
INGEST_CSV_HEADER = "doc_id,lang,n_tokens"
INGEST_CSV_CONTENT = (
    f"{INGEST_CSV_HEADER}\n"
    "1,en,100\n"       # good
    "2,es,50\n"        # good
    "x,fr,10\n"        # dead: doc_id type mismatch
    "3,de\n"           # dead: too few columns
    "4,en,25,extra\n"  # dead: too many columns
    "5,fr,abc\n"       # dead: n_tokens type mismatch
)
INGEST_NDJSON_CONTENT = (
    '{"doc_id": 10, "lang": "en", "n_tokens": 7}\n'   # good
    '{"doc_id": 11, "lang": "fr"}\n'                  # good: sparse -> NULL
    "not json\n"                                      # dead: invalid JSON
    '{"doc_id": "x", "lang": "de", "n_tokens": 3}\n'  # dead: type mismatch
)


def ensure_ingest_fixture() -> None:
    """Write (or repair) the ingest fixture files. Idempotent and
    atomic (tmp + os.replace, pid-unique tmp name) so concurrent
    importers — driver, oracle process, parallel pytest — can race
    safely."""
    os.makedirs(INGEST_FIXTURE_DIR, exist_ok=True)
    for path, content in (
        (INGEST_CSV, INGEST_CSV_CONTENT),
        (INGEST_NDJSON, INGEST_NDJSON_CONTENT),
    ):
        try:
            with open(path) as fh:
                if fh.read() == content:
                    continue
        except OSError:
            pass
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as fh:
            fh.write(content)
        os.replace(tmp, path)


def _ingest_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("n_tokens", T.LongType()),
        ]
    )


@register(
    "token_positions",
    tags=("ext-text", "ext-ingest"),
    oracle=f"""
        WITH craw AS (
            SELECT value FROM read_csv('{INGEST_CSV}', header=false,
                delim='|', quote='', columns={{'value': 'VARCHAR'}})
        ),
        cpar AS (
            SELECT value, str_split(value, ',') AS p,
                   value = '{INGEST_CSV_HEADER}' AS is_header,
                   (len(str_split(value, ',')) = 3
                    AND try_cast(str_split(value, ',')[1] AS BIGINT) IS NOT NULL
                    AND try_cast(str_split(value, ',')[3] AS BIGINT) IS NOT NULL) AS ok
            FROM craw
        ),
        jraw AS (
            SELECT value FROM read_csv('{INGEST_NDJSON}', header=false,
                delim='|', quote='', columns={{'value': 'VARCHAR'}})
        ),
        jval AS (SELECT value, json_valid(value) AS v FROM jraw),
        jok AS (
            SELECT value,
                   (coalesce(json_type(value, '$.doc_id') IN ('UBIGINT','BIGINT'), TRUE)
                    AND coalesce(json_type(value, '$.lang') = 'VARCHAR', TRUE)
                    AND coalesce(json_type(value, '$.n_tokens') IN ('UBIGINT','BIGINT'), TRUE)) AS ok
            FROM jval WHERE v
        )
        SELECT 'token' AS kind, doc_id, u.pos, u.token,
               CAST(NULL AS INTEGER) AS chunk_start,
               CAST(NULL AS VARCHAR) AS chunk_text,
               CAST(NULL AS INTEGER) AS n_chunk_tokens,
               CAST(NULL AS VARCHAR) AS lang,
               CAST(NULL AS BIGINT) AS n_tokens,
               CAST(NULL AS VARCHAR) AS raw_line,
               CAST(NULL AS VARCHAR) AS reason
        FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       generate_series(1, len(toks)),
                       i -> struct_pack(pos := i - 1, token := toks[i]))) AS u
            FROM (SELECT doc_id, str_split(text, ' ') AS toks
                  FROM documents WHERE doc_id < 3)
        )
        UNION ALL
        SELECT 'chunk', doc_id,
               CAST((s - 1) // 12 AS INTEGER), CAST(NULL AS VARCHAR),
               CAST(s - 1 AS INTEGER),
               array_to_string(list_slice(toks, s, s + 15), ' '),
               CAST(least(n - s + 1, 16) AS INTEGER),
               CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
               CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
        FROM (
            SELECT doc_id, toks, n,
                   unnest(generate_series(1, greatest(n - 4, 1), 12)) AS s
            FROM (SELECT doc_id, str_split(text, ' ') AS toks,
                         len(str_split(text, ' ')) AS n
                  FROM documents WHERE doc_id < 20 AND text IS NOT NULL)
        )
        UNION ALL
        SELECT 'csv_good', try_cast(p[1] AS BIGINT),
               CAST(NULL AS INTEGER), CAST(NULL AS VARCHAR),
               CAST(NULL AS INTEGER), CAST(NULL AS VARCHAR), CAST(NULL AS INTEGER),
               p[2], try_cast(p[3] AS BIGINT),
               CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
        FROM cpar WHERE ok AND NOT is_header
        UNION ALL
        SELECT 'csv_dead', CAST(NULL AS BIGINT),
               CAST(NULL AS INTEGER), CAST(NULL AS VARCHAR),
               CAST(NULL AS INTEGER), CAST(NULL AS VARCHAR), CAST(NULL AS INTEGER),
               CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
               value, CASE WHEN is_header THEN 'header' ELSE 'malformed' END
        FROM cpar WHERE is_header OR NOT ok
        UNION ALL
        SELECT 'json_good', CAST(value->>'$.doc_id' AS BIGINT),
               CAST(NULL AS INTEGER), CAST(NULL AS VARCHAR),
               CAST(NULL AS INTEGER), CAST(NULL AS VARCHAR), CAST(NULL AS INTEGER),
               value->>'$.lang', CAST(value->>'$.n_tokens' AS BIGINT),
               CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
        FROM jok WHERE ok
        UNION ALL
        SELECT 'json_dead', CAST(NULL AS BIGINT),
               CAST(NULL AS INTEGER), CAST(NULL AS VARCHAR),
               CAST(NULL AS INTEGER), CAST(NULL AS VARCHAR), CAST(NULL AS INTEGER),
               CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
               value, 'malformed'
        FROM jval WHERE NOT v
        UNION ALL
        SELECT 'json_dead', CAST(NULL AS BIGINT),
               CAST(NULL AS INTEGER), CAST(NULL AS VARCHAR),
               CAST(NULL AS INTEGER), CAST(NULL AS VARCHAR), CAST(NULL AS INTEGER),
               CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
               value, 'malformed'
        FROM jok WHERE NOT ok
    """,
)
def token_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text ingest-and-tokenize suite — four kinds in one relation (the
    round-5 pytest-only ops `chunk_documents` and batch ingest, made
    driver-visible by merging into this slot; the window holds exactly 50
    oracle-backed queries):

    kind='token' — positional tokenization (posexplode): (doc, position,
    token) triples, the layout a sequence labeller or n-gram indexer
    consumes.

    kind='chunk' — `ext.text.chunk_documents` (16-token windows, 4-token
    overlap, stride 12) over docs < 20: one row per chunk with its
    0-based window index (pos), token offset (chunk_start), text and
    token count — the oracle replays the window algebra with
    generate_series/list_slice, pinning coverage, stride and the partial
    tail chunk exactly.

    kind='csv_good'/'csv_dead'/'json_good'/'json_dead' — the batch
    ingest dead-letter contract (`sources.ingest_batch`) over a
    deterministic fixture (every input line in exactly one side): header
    stripping counted as reason='header', type mismatches / wrong column
    counts / invalid JSON as reason='malformed', sparse JSON fields as
    NULLs in good rows. The oracle REPLAYS the parse in DuckDB over the
    same raw lines (read_csv raw-line mode + str_split/try_cast for CSV,
    json_valid/json_type for NDJSON) rather than trusting literals."""
    from beeper_matric_etl_tool_spark.ext.text import chunk_documents
    from beeper_matric_etl_tool_spark.sources.ingest_batch import (
        read_delimited,
        read_json_lines,
    )

    ensure_ingest_fixture()
    docs = table(spark, sf_dir, "documents")

    def nulls(*specs):
        return [F.lit(None).cast(t).alias(n) for n, t in specs]

    chunk_cols = (("chunk_start", "int"), ("chunk_text", "string"), ("n_chunk_tokens", "int"))
    ing_cols = (("lang", "string"), ("n_tokens", "long"))
    dead_cols = (("raw_line", "string"), ("reason", "string"))

    token_leg = (
        docs.filter(F.col("doc_id") < 3)
        .select("doc_id", F.posexplode(xtext.tokens("text")).alias("pos", "token"))
        .select(
            F.lit("token").alias("kind"), "doc_id", "pos", "token",
            *nulls(*chunk_cols, *ing_cols, *dead_cols),
        )
    )
    chunk_leg = chunk_documents(
        docs.filter(F.col("doc_id") < 20), chunk_tokens=16, overlap_tokens=4
    ).select(
        F.lit("chunk").alias("kind"), "doc_id",
        F.col("chunk_id").alias("pos"),
        F.lit(None).cast("string").alias("token"),
        "chunk_start", "chunk_text", "n_chunk_tokens",
        *nulls(*ing_cols, *dead_cols),
    )

    csv_good, csv_dead = read_delimited(
        spark, INGEST_CSV, _ingest_schema(), skip_header=True
    )
    json_good, json_dead = read_json_lines(spark, INGEST_NDJSON, _ingest_schema())

    def good_leg(df, kind):
        return df.select(
            F.lit(kind).alias("kind"), "doc_id",
            *nulls(("pos", "int"), ("token", "string"), *chunk_cols),
            "lang", "n_tokens", *nulls(*dead_cols),
        )

    def dead_leg(df, kind):
        return df.select(
            F.lit(kind).alias("kind"),
            *nulls(("doc_id", "long"), ("pos", "int"), ("token", "string"),
                   *chunk_cols, *ing_cols),
            "raw_line", "reason",
        )

    out = token_leg
    for leg in (
        chunk_leg,
        good_leg(csv_good, "csv_good"),
        dead_leg(csv_dead, "csv_dead"),
        good_leg(json_good, "json_good"),
        dead_leg(json_dead, "json_dead"),
    ):
        out = out.unionByName(leg)
    return out


@register(
    "doc_packing",
    tags=("ext-text", "ext-pack"),
    oracle="""
        SELECT doc_id, lang, n_tokens,
               CAST(coalesce(sum(n_tokens) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2048
                 AS BIGINT) AS pack_id
        FROM (SELECT doc_id, lang, len(str_split(text, ' ')) AS n_tokens
              FROM documents)
    """,
)
def doc_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for pretraining: greedily assign documents (in
    stable id order, per language) to fixed 2048-token bins via an
    exclusive running sum — every row's pack is a pure function of the
    ordered prefix, so packing is deterministic and resumable. Exact
    integer arithmetic throughout. The mechanism is
    ext/pipeline.py:pack_by_budget (shuffle=False keeps the oracle's id
    ordering; the pipeline's export path uses the md5-shuffled order
    instead — same kernel, one implementation), run in its SPREAD form —
    the distributed prefix sum (range-partitioned local cumsum +
    broadcast per-partition offsets, no single-task dominant-language
    stage) — so a green row is driver evidence for the scale path,
    replayed by the oracle's textbook single-window SQL."""
    from beeper_matric_etl_tool_spark.ext.pipeline import pack_by_budget

    docs = table(spark, sf_dir, "documents")
    n_tokens = F.size(xtext.tokens("text"))
    base = docs.select("doc_id", "lang", n_tokens.alias("n_tokens"))
    return pack_by_budget(
        base, "n_tokens", budget=2048, partition_cols=("lang",),
        shuffle=False, spread=True,
    )


# (bigram statistics ride `ngram_frequencies` as the n=2 slice)


@register(
    "skew_salted_rollup",
    tags=("ext-skew",),
    oracle="""
        WITH j AS (
            SELECT e.user_id, e.event_type, CAST(floor(e.value * 100 + 0.5) AS BIGINT) AS cents
            FROM events e JOIN (SELECT DISTINCT event_type FROM events) t
              ON e.event_type = t.event_type
        )
        SELECT event_type, count(*) AS n_events,
               CAST(sum(cents) AS BIGINT) AS total_cents
        FROM j GROUP BY event_type
    """,
)
def skew_salted_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew mitigation as a driver-checkable relation: `event_type` is the
    canonical hot key (a handful of distinct values over every event — the
    '#general room' shape), so BOTH skew kernels run in their natural
    roles and the salting must be a pure rewrite: the salted join spreads
    each hot type across 8 tasks instead of one, and the two-phase
    aggregate combines (type, salt) partials before the per-type fold.
    The oracle is the UNSALTED equivalent — identical results is the
    entire correctness contract of skew mitigation."""
    from beeper_matric_etl_tool_spark.operators.skew import salted_aggregate, salted_join

    events = table(spark, sf_dir, "events")
    types = events.select("event_type").distinct()
    joined = salted_join(
        events.select("event_id", "user_id", "event_type", "value"),
        types,
        on="event_type",
        salt_source="event_id",
        buckets=8,
    )
    return salted_aggregate(
        joined.withColumn("cents", xtext.cents("value")),
        keys=["event_type"],
        aggs={
            "n_events": (F.count(F.lit(1)), F.sum),
            "total_cents": (F.sum("cents"), F.sum),
        },
        salt_source="event_id",
        buckets=8,
    ).select("event_type", F.col("n_events").cast("long"), F.col("total_cents").cast("long"))


@register(
    "range_join_sessions",
    tags=("ext-window", "ext-range"),
    oracle="""
        WITH flagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             > INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_sess
            FROM events WHERE user_id < 5
        ),
        numbered AS (
            SELECT user_id, ts, event_id,
                   sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS sess_id
            FROM flagged
        ),
        intervals AS (
            SELECT user_id AS owner_id, min(ts) AS session_start,
                   max(ts) + INTERVAL 30 MINUTE AS session_end
            FROM numbered GROUP BY user_id, sess_id
        )
        SELECT e.event_id, e.user_id, i.owner_id, i.session_start,
               count(*) OVER () AS n_pairs
        FROM events e JOIN intervals i
          ON e.ts >= i.session_start AND e.ts <= i.session_end
    """,
)
def range_join_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure range (interval-containment) join — no equi-key exists, the
    case Spark would otherwise plan as BroadcastNestedLoopJoin/cartesian:
    which events (any user) occurred during the activity sessions of users
    0–4? Runs through `operators.rangejoin.interval_join`: intervals
    explode to the hour bins they cover, each point keys by its single
    bin, and the containment predicate refines a plain hash equi-join on
    the bin — linear shuffle, AQE-skew-splittable, broadcastable when the
    exploded side is small. The scalar-total n_pairs column doubles as a
    cardinality check in the hashed comparison — computed as a one-row
    agg broadcast-cross-joined back (an empty-partition window here would
    funnel EVERY result row through one task to learn the total)."""
    from beeper_matric_etl_tool_spark.operators.rangejoin import interval_join

    events = table(spark, sf_dir, "events")
    intervals = xwin.sessionized(
        events.filter(F.col("user_id") < 5), "ts", "30 minutes", ["user_id"],
        F.count(F.lit(1)).alias("__n"),
    ).select(
        F.col("user_id").alias("owner_id"), "session_start", "session_end"
    )
    pairs = interval_join(
        events.select("event_id", "ts", "user_id"),
        intervals,
        ts_col="ts",
        start_col="session_start",
        end_col="session_end",
    )
    total = pairs.agg(F.count(F.lit(1)).alias("n_pairs"))
    return pairs.select("event_id", "user_id", "owner_id", "session_start").join(
        F.broadcast(total)
    )


@register(
    "pii_scrub",
    tags=("ext-text", "ext-quality"),
    oracle="""
        WITH s AS (
            SELECT event_id,
                   regexp_replace(props,
                       '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}',
                       '<EMAIL>', 'g') AS no_email,
                   len(regexp_extract_all(props,
                       '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}')) AS n_emails
            FROM events WHERE props IS NOT NULL
        )
        SELECT event_id,
               regexp_replace(no_email, '[0-9]+', '<NUM>', 'g') AS scrubbed,
               n_emails,
               len(regexp_extract_all(no_email, '[0-9]+')) AS n_digit_runs,
               (n_emails + len(regexp_extract_all(no_email, '[0-9]+'))) > 0 AS changed
        FROM s
    """,
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass — the scrub every shared pretraining corpus runs
    before release: emails first (so their digits don't half-match the
    number rule), then digit runs, each with an occurrence count so the
    pipeline can audit redaction volume per source. Patterns stay in the
    RE2 ∩ Java-regex common subset (character classes + quantifiers, no
    lookaround) — the portability contract that lets the same rule run on
    the Spark plane and any SQL oracle. Pure codegen regexp column
    algebra; at 100 TB this is an embarrassingly parallel map with zero
    shuffle."""
    from beeper_matric_etl_tool_spark.ext.quality import pii_columns

    events = table(spark, sf_dir, "events")
    pii = pii_columns("props")
    return events.filter(F.col("props").isNotNull()).select(
        "event_id", *[c.alias(name) for name, c in pii.items()]
    )


#: the curation-funnel stages in pipeline order, as (index, stage) — the
#: `quality_filter` suite emits one survivor row per (stage, doc) so the
#: driver hash pins BOTH the funnel counts and the exact survivor sets.
_FUNNEL_STAGES = (
    (1, "scrubbed"),
    (2, "exact"),
    (3, "near"),
    (4, "incremental"),
    (5, "semantic"),
    (6, "sampled"),
    (7, "packed"),
)

#: null-padded signal columns for the funnel leg (name → Spark cast type),
#: matching the signal leg's exact output types
_FUNNEL_NULL_SIGNALS = (
    ("n_tokens", "int"),
    ("ttr_ppm", "long"),
    ("dup3_ppm", "long"),
    ("stop_hits", "int"),
    ("mean_len_x100", "long"),
    ("dup_line_ppm", "long"),
    ("dup_line_char_ppm", "long"),
    ("dup_para_ppm", "long"),
    ("dup_para_char_ppm", "long"),
    ("top2gram_ppm", "long"),
    ("len_ok", "boolean"),
    ("ttr_ok", "boolean"),
    ("rep_ok", "boolean"),
    ("stop_ok", "boolean"),
    ("avglen_ok", "boolean"),
    ("rep_line_ok", "boolean"),
    ("rep_para_ok", "boolean"),
    ("top2_ok", "boolean"),
    ("keep", "boolean"),
)


@register(
    "quality_filter",
    tags=("ext-text", "ext-quality", "ext-pipeline"),
    # The oracle replays the ENTIRE curate() funnel in one CTE chain —
    # every stage is the SQL twin of an already-oracled kernel (quality
    # battery, PII scrub, md5 exact dedup, portable-minhash LSH + exact
    # Jaccard verify, recursive-CTE connected components, salted mix
    # threshold, salted-order packing). Constants (EMAIL_RE, MIX_RATES,
    # MIX_SALT, PACK_SALT) interpolate from the same Python definitions
    # the Spark plane uses, so the two planes cannot drift silently.
    oracle=f"""
        WITH RECURSIVE rawcorpus AS (
            SELECT doc_id, text, lang FROM documents
            UNION ALL
            SELECT doc_id + 100000, text, lang
            FROM documents WHERE doc_id % 10 = 0
            UNION ALL
            SELECT doc_id + 200000, replace(text, ' ', chr(160)), lang
            FROM documents WHERE doc_id % 10 = 5
        ),
        corpus AS (
            SELECT doc_id, {xtext.normalize_text_sql("text")} AS text, lang
            FROM rawcorpus
        ),
        {_quality_signal_cte_sql("corpus")},
        {_quality_verdict_cte_sql()},
        scrub AS (
            SELECT doc_id, lang,
                   regexp_replace(regexp_replace(text,
                       '{EMAIL_RE}', '<EMAIL>', 'g'), '[0-9]+', '<NUM>', 'g') AS text
            FROM v WHERE keep
        ),
        ex AS (
            SELECT doc_id, lang, text FROM scrub
            QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
        ),
        {_minhash_band_cte("ex", "")},
        cand AS (
            SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
            FROM bnd a JOIN bnd b USING (band_id, band_hash)
            WHERE a.doc_id < b.doc_id
        ),
        pairs AS (
            SELECT ia, ib FROM cand
            JOIN sh sa ON sa.doc_id = cand.ia
            JOIN sh sb ON sb.doc_id = cand.ib
            WHERE len(list_intersect(sa.s, sb.s))
                  / CAST(len(list_distinct(list_concat(sa.s, sb.s))) AS DOUBLE)
                  >= 0.7
        ),
        edges AS (SELECT ia AS s, ib AS d FROM pairs
                  UNION SELECT ib, ia FROM pairs),
        reach(node, r) AS (
            SELECT doc_id, doc_id FROM ex
            UNION
            SELECT reach.node, e.d FROM reach JOIN edges e ON e.s = reach.r
        ),
        clus AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node),
        near AS (
            SELECT ex.doc_id, ex.lang, ex.text
            FROM ex JOIN clus ON clus.node = ex.doc_id
            WHERE clus.cluster_id = ex.doc_id
        ),
        sampled AS (
            SELECT * FROM near
            WHERE {_mix_hash_sql()} < {_mix_threshold_case_sql(MIX_RATES)}
        ),
        packed AS (
            SELECT doc_id,
                   CAST(coalesce(sum(n_tok) OVER (
                       PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR) || '{PACK_SALT}') ASC,
                                doc_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2048
                     AS BIGINT) AS pack_id
            FROM (SELECT doc_id, lang, len(str_split(text, ' ')) AS n_tok
                  FROM sampled)
        ),
        funnel AS (
            SELECT 1 AS stage_idx, 'scrubbed' AS stage, doc_id,
                   CAST(NULL AS BIGINT) AS pack_id FROM scrub
            UNION ALL SELECT 2, 'exact', doc_id, NULL FROM ex
            UNION ALL SELECT 3, 'near', doc_id, NULL FROM near
            UNION ALL SELECT 4, 'incremental', doc_id, NULL FROM near
            UNION ALL SELECT 5, 'semantic', doc_id, NULL FROM near
            UNION ALL SELECT 6, 'sampled', doc_id, NULL FROM sampled
            UNION ALL SELECT 7, 'packed', doc_id, pack_id FROM packed
        )
        SELECT 'signal' AS kind, doc_id, n_tokens, ttr_ppm, dup3_ppm,
               stop_hits, mean_len_x100,
               dup_line_ppm, dup_line_char_ppm, dup_para_ppm, dup_para_char_ppm,
               top2gram_ppm,
               len_ok, ttr_ok, rep_ok, stop_ok, avglen_ok,
               rep_line_ok, rep_para_ok, top2_ok, keep,
               CAST(NULL AS INTEGER) AS stage_idx, CAST(NULL AS VARCHAR) AS stage,
               CAST(NULL AS BIGINT) AS pack_id
        FROM v
        UNION ALL
        SELECT 'funnel', doc_id, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
               CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
               CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
               CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
               NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
               stage_idx, stage, pack_id
        FROM funnel
    """,
)
def quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4/Gopher quality battery AND the composed `curate()` funnel it
    gates, in one suite relation (the flagship LLM-curation surface —
    ext/pipeline.py:curate — made driver-visible):

    kind='signal' — one row per input doc with each quality SIGNAL and
    each per-rule VERDICT (audit-friendly: a real pipeline keeps the
    reasons, not just the survivors): length bounds, type-token-ratio
    floor, duplicate-3-gram ceiling (Gopher's repetition rule),
    PER-LANGUAGE stopword floor (each document scored against its own
    language's function-word inventory, English fallback — an
    English-only floor would systematically drop non-English docs),
    mean-token-length band, and Gopher's line/paragraph repetition
    battery (duplicate-segment fraction by count AND by character mass,
    `ext/quality.py:repetition_signal_columns` — degenerate-zero on the
    newline-free synthetic corpus, exercised on planted multi-line docs
    in tests/test_pipeline.py). Exact integer ppm/x100 throughout
    (scaled_ratio contract), pure codegen column algebra, no shuffle.

    kind='funnel' — one row per SURVIVOR per stage of the full curation
    pipeline run over the same corpus (with every 10th doc redelivered
    under a shifted id so the exact-dedup stage demonstrably collapses,
    and every doc_id%10==5 doc redelivered as a BYTE-VARIANT copy —
    NBSP separators — that only collapses because curate()'s default
    normalization stage canonicalizes it first; both planes apply the
    same chain, ext/text.py:normalize_text and its normalize_text_sql
    twin, so the hash pins normalization end to end):
    normalize → quality gate → PII scrub → exact dedup → MinHash+LSH near-dup
    components → (identity incremental/semantic — no reference corpus or
    embeddings wired here; `dedup_graph` oracles the incremental kernel)
    → salted source-mix sampling → salted-order token-budget packing
    (pack_id exposed on the final stage). The hash therefore pins the
    funnel's per-stage counts AND exact survivor sets end to end.
    Runs `curate(portable=True)` — the md5 hash family — so every dedup
    decision is engine-reproducible; stage kernels are the same ones the
    other driver rows check individually."""
    from beeper_matric_etl_tool_spark.ext.pipeline import curate
    from beeper_matric_etl_tool_spark.ext.quality import (
        quality_signal_columns,
        quality_verdict_columns,
    )

    docs = table(spark, sf_dir, "documents")
    redelivered = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    # byte-variant redelivery: every doc_id%10==5 doc comes back with NBSP
    # separators — the mojibake twin that defeats exact AND MinHash dedup
    # unless the normalization stage canonicalizes it first; its collapse
    # at the exact stage is therefore driver-hashed evidence that
    # curate()'s default normalize stage is live
    byte_variant = (
        docs.filter(F.col("doc_id") % 10 == 5)
        .withColumn("doc_id", F.col("doc_id") + 200000)
        .withColumn("text", F.translate("text", " ", "\u00a0"))
    )
    corpus = (
        docs.unionByName(redelivered)
        .unionByName(byte_variant)
        .select("doc_id", "text", "lang")
        # the funnel's own normalize stage would cover the funnel leg, but
        # the SIGNAL leg below audits the same normalized text the gate
        # sees — so normalization is applied once here (idempotence makes
        # curate()'s default stage-0 re-application a no-op)
        .withColumn("text", xtext.normalize_text("text"))
    )

    signals = quality_signal_columns("text", lang_col="lang")
    base = corpus.select("doc_id", *[c.alias(name) for name, c in signals.items()])
    verdicts = quality_verdict_columns()
    signal_leg = base.select(
        "*", *[c.alias(name) for name, c in verdicts.items()]
    ).select(
        F.lit("signal").alias("kind"),
        "doc_id",
        *[name for name, _ in _FUNNEL_NULL_SIGNALS],
        F.lit(None).cast("int").alias("stage_idx"),
        F.lit(None).cast("string").alias("stage"),
        F.lit(None).cast("long").alias("pack_id"),
    )

    # persist_intermediates=False: a registered query is materialized once
    # per call, and the returned frame outlives this function, so the
    # CurationStages.release() hook could never fire — the default persist
    # would pin a session-lifetime cache entry per invocation.
    # checkpoint_stages=True (r13): without it the 8-leg union re-embeds
    # the full funnel per leg — a 12.5k-line physical plan whose CATALYST
    # PLANNING alone cost ~2 min of driver time at any SF (measured at
    # sf0.001: construct 124 s with near-zero executor work); the two
    # lazy lineage cuts (scrubbed, near) collapse the plan and the shared
    # subtrees execute once.
    stages = curate(
        corpus, mix_rates=MIX_RATES, portable=True, persist_intermediates=False,
        checkpoint_stages=True,
    )

    def funnel_leg(idx: int, name: str) -> DataFrame:
        pack = F.col("pack_id") if name == "packed" else F.lit(None).cast("long")
        return stages[name].select(
            F.lit("funnel").alias("kind"),
            F.col("doc_id"),
            *[F.lit(None).cast(t).alias(n) for n, t in _FUNNEL_NULL_SIGNALS],
            F.lit(idx).cast("int").alias("stage_idx"),
            F.lit(name).alias("stage"),
            pack.alias("pack_id"),
        )

    out = signal_leg
    for idx, name in _FUNNEL_STAGES:
        out = out.unionByName(funnel_leg(idx, name))
    return out
