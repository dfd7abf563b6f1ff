"""text family query builders + DuckDB oracles (mechanically split from the catalog monolith)."""

from __future__ import annotations
from collections.abc import Callable
from dataclasses import dataclass
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from ..functions.urls import canonicalize_col, host_col
from ..operators import dedup, multimodal, similarity
from ..operators.labeling import label_row
from ..operators.comment_tree import reply_forest
from ..operators.ordering import assign_seq_scalable
from ..operators.robots import apply_robots
from ..operators.scheduler import admit
from ..operators.seen import anti_join_seen
from ..operators.stats import (
    attach_notes_with_misses,
    count_histogram,
    note_type_col,
    orphan_metrics,
)
from ..operators.textstats import (
    fingerprint_cols,
    lang_id_col,
    quality_score_cols,
    token_count_cols,
)
from ..plans.crawl import seeds_to_frontier
from ._shared import (
    CORPUS_SQL,
    _H32,
    _SQL_QUALITY_M,
    _SQL_QUALITY_SCORE,
    _SQL_SHINGLES,
    _SQL_TOKENS,
    _corpus,
    _sw_sql,
    _t,
)



def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textstats import tokens_col

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", lang_id_col(tokens_col(F.col("text"))).alias("lang_pred"))


def _sql_lang_id() -> str:
    from ..operators.textstats import STOPWORDS

    keys = []
    for lang, ws in sorted(STOPWORDS.items()):
        keys.append(
            f"lpad(((1000000 + -1 * {_sw_sql(ws)}))::VARCHAR, 7, '0') || '{lang}'"
        )
    least = "least(" + ", ".join(keys) + ")"
    anyhit = " + ".join(_sw_sql(ws) for _, ws in sorted(STOPWORDS.items()))
    return f"""
select doc_id,
  case when ({anyhit}) = 0 then 'und' else substr({least}, 8) end as lang_pred
from documents
"""


SQL_LANG_ID = _sql_lang_id()


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    cols = quality_score_cols(F.col("text"))
    return docs.select("doc_id", *[c.alias(k) for k, c in cols.items()])


SQL_TEXT_QUALITY = f"""
with {_SQL_QUALITY_M}
select doc_id, n_tokens, round(mean_tok, 4) as mean_token_len,
  round(stop_ratio, 4) as stopword_ratio, round(punct_ratio, 4) as punct_ratio,
  round({_SQL_QUALITY_SCORE}::DOUBLE, 2) as quality_score
from m
"""


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    cols = token_count_cols(F.col("text"))
    return docs.select("doc_id", *[c.alias(k) for k, c in cols.items()])


SQL_TOKEN_COUNT = f"""
select doc_id, len({_SQL_TOKENS})::BIGINT as ws_tokens,
       ceil(length(text) / 4.0)::BIGINT as bpe_est_tokens
from documents
"""


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition gate signals per document
    (operators/textstats.repetition_cols): distinct-token ratio +
    duplicate-bigram fraction. Pure codegen'd array expressions."""
    from ..operators.textstats import repetition_cols

    docs = _t(spark, sf_dir, "documents")
    cols = repetition_cols(F.col("text"))
    return docs.select("doc_id", *[c.alias(k) for k, c in cols.items()])


SQL_TEXT_REPETITION = f"""
with tok as (
  select doc_id, {_SQL_TOKENS} as toks from documents
), big as (
  select doc_id, toks, len(toks)::BIGINT as n_tokens,
         list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1]) as bigrams
  from tok
)
select doc_id, n_tokens,
  round(len(list_distinct(toks)) / n_tokens::DOUBLE, 4) as distinct_token_ratio,
  case when n_tokens > 1
       then round(1.0 - len(list_distinct(bigrams)) / (n_tokens - 1)::DOUBLE, 4)
       else 0.0 end as dup_bigram_frac
from big
"""


def q_text_bigram_fluency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality stage (operators/lm.fluency_scores): bigram
    MLE transition tables trained on the corpus by aggregation, every doc
    scored by mean transition probability via shuffle equi-joins, bucketed
    head/middle/tail per language. Probability domain, not log domain:
    ln() is not bit-identical across engines (see operators/lm.py)."""
    from ..operators.lm import fluency_scores

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    out = fluency_scores(docs)
    return out.select(
        "doc_id",
        "lang",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        "mean_p",
        F.col("bucket").cast("long").alias("bucket"),
    )


SQL_TEXT_BIGRAM_FLUENCY = f"""
with toks as (select doc_id, lang, {_SQL_TOKENS} as t from documents),
pairs as (
  select doc_id, lang, unnest(t[1:len(t)-1]) as w1, unnest(t[2:len(t)]) as w2
  from toks where len(t) >= 2
),
bg as (select doc_id, lang, w1, w1 || ' ' || w2 as bigram from pairs),
c2 as (select w1, bigram, count(*) as c2 from bg group by w1, bigram),
c1 as (select w1, sum(c2) as c1 from c2 group by w1),
scored as (
  select bg.doc_id, bg.lang, c2.c2::DOUBLE / c1.c1::DOUBLE as p
  from bg join c2 using (w1, bigram) join c1 using (w1)
),
per_doc as (
  select doc_id, lang, count(*)::BIGINT as n_bigrams,
         round(sum(cast(p as decimal(28,12)))::DOUBLE / count(*), 6) as mean_p
  from scored group by doc_id, lang
)
select doc_id, lang, n_bigrams, mean_p,
       ntile(3) over (partition by lang order by mean_p desc, doc_id) as bucket
from per_doc
"""


#: PII-planting snippet (shared verbatim): every doc gets exactly one
#: synthetic PII span of a class chosen by doc_id % 3, appended to the text
#: so counts and redaction have known ground truth. No backslashes (CLAUDE.md
#: escaping rule) and all arithmetic < 2^30 (DuckDB overflow errors).
PII_TEXT_EXPR = """text || case cast(doc_id % 3 as int)
  when 0 then ' contact user' || cast(doc_id as varchar(30)) || '@mail'
              || cast(doc_id % 7 as varchar(10)) || '.example now'
  when 1 then ' origin 10.' || cast(doc_id % 256 as varchar(10)) || '.0.'
              || cast(doc_id % 100 as varchar(10)) || ' logged'
  else ' call 555-' || cast(100 + doc_id % 900 as varchar(10)) || '-'
       || cast(1000 + doc_id % 9000 as varchar(10)) || ' x'
end"""


def q_text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Dolma-style PII scrub (operators/pii.pii_cols): per-class span
    counts + redacted-text hash over a corpus with planted emails / IPv4s /
    phone numbers. Pure codegen'd regexp expressions — no shuffle at all;
    the scan parallelism IS the operator parallelism at 100 TB."""
    from ..operators.pii import pii_cols
    from ..operators.textstats import hash32_col

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(PII_TEXT_EXPR).alias("page")
    )
    c = pii_cols(F.col("page"))
    return docs.select(
        "doc_id",
        c["n_emails"].alias("n_emails"),
        c["n_ipv4"].alias("n_ipv4"),
        c["n_phones"].alias("n_phones"),
        c["n_pii"].alias("n_pii"),
        hash32_col(c["redacted"]).alias("redacted_hash"),
        F.length(c["redacted"]).cast("long").alias("redacted_len"),
    )


def _sql_text_pii_scrub() -> str:
    from ..operators.pii import EMAIL_RE, IPV4_RE, PHONE_RE

    return f"""
with p as (select doc_id, {PII_TEXT_EXPR} as page from documents),
r1 as (select doc_id, page,
         regexp_replace(page, '{EMAIL_RE}', '<EMAIL>', 'g') as after_email
       from p),
r2 as (select *, regexp_replace(after_email, '{IPV4_RE}', '<IP>', 'g') as after_ip
       from r1),
r3 as (select *, regexp_replace(after_ip, '{PHONE_RE}', '<PHONE>', 'g') as redacted
       from r2)
select doc_id,
  len(regexp_extract_all(page, '{EMAIL_RE}'))::BIGINT as n_emails,
  len(regexp_extract_all(after_email, '{IPV4_RE}'))::BIGINT as n_ipv4,
  len(regexp_extract_all(after_ip, '{PHONE_RE}'))::BIGINT as n_phones,
  (len(regexp_extract_all(page, '{EMAIL_RE}'))
   + len(regexp_extract_all(after_email, '{IPV4_RE}'))
   + len(regexp_extract_all(after_ip, '{PHONE_RE}')))::BIGINT as n_pii,
  ('0x' || substr(md5(redacted), 1, 8))::BIGINT as redacted_hash,
  length(redacted)::BIGINT as redacted_len
from r3
"""


#: boilerplate-framing snippet (shared verbatim): wrap each document in the
#: chrome a scraped HTML page carries — nav menu, share bar, optional
#: recommendation line, copyright footer — newline-delimited so the
#: line-level extractor has real structure to strip.
BOILER_PAGE_EXPR = """'menu home about contact login' || chr(10)
 || text || chr(10)
 || 'share on social' || chr(10)
 || case when doc_id % 2 = 0
         then 'related articles you may like about ' || source || chr(10)
         else '' end
 || 'copyright 2020 ' || source || ' all rights reserved'"""

#: line-level keep rule (documented for the SQL twin): a line survives iff
#: it has >= 5 space-tokens AND its first token is not a chrome marker.
_BOILER_MARKERS = ("copyright", "menu", "related", "share")


def q_text_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trafilatura-style main-content extraction: split the framed page on
    newlines, keep content lines (>= 5 words, first token not a chrome
    marker), reassemble. Pure higher-order array expressions — lambdas touch
    ONLY their own argument (the per-element re-inline trap, CLAUDE.md), no
    explode, no shuffle: linear in input splits at 100 TB."""
    from ..operators.textstats import hash32_col

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(BOILER_PAGE_EXPR).alias("page")
    )
    lines = F.split(F.col("page"), "\n")
    kept = F.filter(
        lines,
        lambda l: (F.size(F.split(l, " ")) >= 5)
        & ~F.substring_index(l, " ", 1).isin(*_BOILER_MARKERS),
    )
    main_text = F.array_join(kept, "\n")
    page_chars = F.length("page").cast("long")
    kept_chars = F.length(main_text).cast("long")
    return docs.select(
        "doc_id",
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
        page_chars.alias("page_chars"),
        kept_chars.alias("kept_chars"),
        F.round(kept_chars / page_chars, 6).alias("content_ratio"),
        hash32_col(main_text).alias("main_hash"),
    )


SQL_TEXT_BOILERPLATE_STRIP = f"""
with p as (select doc_id, {BOILER_PAGE_EXPR} as page from documents),
l as (select doc_id, page, string_split(page, chr(10)) as lines from p),
k as (select doc_id, page, lines,
        list_filter(lines, x -> len(string_split(x, ' ')) >= 5
          and not list_contains(['copyright', 'menu', 'related', 'share'],
                                string_split(x, ' ')[1])) as kept
      from l),
m as (select doc_id, page, lines, kept,
        array_to_string(kept, chr(10)) as main_text from k)
select doc_id,
  len(lines)::BIGINT as n_lines,
  len(kept)::BIGINT as n_kept,
  length(page)::BIGINT as page_chars,
  length(main_text)::BIGINT as kept_chars,
  round(length(main_text)::DOUBLE / length(page)::DOUBLE, 6) as content_ratio,
  ('0x' || substr(md5(main_text), 1, 8))::BIGINT as main_hash
from m
"""


VOCAB_TOP_K = 100


def q_vocab_induct_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary induction: corpus token frequencies, top-K by
    (count desc, token) with cumulative corpus coverage. The top-K is
    TakeOrderedAndProject (distributed partial top-K per partition — no
    global sort, no single-task funnel); the cumulative window then runs
    over K rows, bounded by the vocab size, not the corpus."""
    docs = _t(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    total = counts.agg(F.sum("cnt").cast("long").alias("total"))
    topk = counts.orderBy(F.desc("cnt"), F.asc("token")).limit(VOCAB_TOP_K)
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    return (
        topk.crossJoin(F.broadcast(total))
        .select(
            F.row_number().over(w).cast("long").alias("rank"),
            "token",
            "cnt",
            F.round(
                F.sum("cnt").over(w).cast("double") / F.col("total").cast("double"),
                6,
            ).alias("coverage"),
        )
    )


SQL_VOCAB_INDUCT_TOPK = f"""
with tok as (select unnest({_SQL_TOKENS}) as token from documents),
c as (select token, count(*)::BIGINT as cnt from tok group by token),
tot as (select sum(cnt)::BIGINT as total from c),
top as (select token, cnt from c order by cnt desc, token limit {VOCAB_TOP_K})
select row_number() over (order by cnt desc, token) as rank, token, cnt,
       round((sum(cnt) over (order by cnt desc, token
                rows between unbounded preceding and current row))::DOUBLE
             / total::DOUBLE, 6) as coverage
from top cross join tot
"""


def q_text_word_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson-index lexical diversity (operators/textstats.word_diversity):
    exact integer numerator/denominator with one per-row double division —
    the ln-free stand-in for token entropy (CLAUDE.md float-parity rule)."""
    from ..operators.textstats import word_diversity

    return word_diversity(_t(spark, sf_dir, "documents"))


SQL_TEXT_WORD_DIVERSITY = f"""
with t as (
  select doc_id, unnest({_SQL_TOKENS}) as tok from documents
),
c as (select doc_id, tok, count(*)::BIGINT as c from t group by 1, 2),
a as (
  select doc_id, sum(c)::BIGINT as n_tokens, sum(c * c)::BIGINT as sum_sq,
         count(*)::BIGINT as n_distinct
  from c group by doc_id
)
select doc_id, n_tokens, n_distinct, sum_sq,
       round(sum_sq::DOUBLE / (n_tokens * n_tokens)::DOUBLE, 6) as simpson,
       round((n_tokens * n_tokens)::DOUBLE / sum_sq::DOUBLE, 6) as inv_simpson
from a
"""


def q_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID QA — confusion matrix of the n-gram/stopword heuristic
    (lang_id entry) against the stored lang column: (lang_true, lang_pred,
    n_docs, share-of-true-class). The acceptance gate one runs before
    trusting lang_id to route 100 TB into per-language pipelines.

    Scale shape: the heuristic is pure codegen'd expressions in the scan
    projection; ONE map-side-combined groupBy builds the O(langs^2)
    confusion table; the row-share window then runs over that tiny
    aggregate, never over the corpus."""
    from ..operators.textstats import tokens_col

    docs = _t(spark, sf_dir, "documents")
    pred = docs.select(
        F.col("lang").alias("lang_true"),
        lang_id_col(tokens_col(F.col("text"))).alias("lang_pred"),
    )
    conf = pred.groupBy("lang_true", "lang_pred").agg(
        F.count("*").cast("long").alias("n_docs")
    )
    w = Window.partitionBy("lang_true")
    return conf.select(
        "lang_true",
        "lang_pred",
        "n_docs",
        F.round(
            F.col("n_docs").cast("double")
            / F.sum("n_docs").over(w).cast("double"),
            6,
        ).alias("share"),
    )


def _sql_lang_id_confusion() -> str:
    return f"""
with x as ({_sql_lang_id()}),
p as (
  select d.lang as lang_true, x.lang_pred
  from documents d join x using (doc_id)
),
c as (
  select lang_true, lang_pred, count(*)::BIGINT as n_docs
  from p group by lang_true, lang_pred
)
select lang_true, lang_pred, n_docs,
       round(n_docs::DOUBLE /
             (sum(n_docs) over (partition by lang_true))::DOUBLE, 6) as share
from c
"""



def q_text_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation stats (operators/textstats.sentence_cols) —
    the quality-signal family's sentence tier (C4 drops lines without
    terminal punctuation; Gopher gates on sentence counts). Boundary
    CHARS are counted by strip-and-diff, never split (trailing-empty
    split semantics differ across engines). Pure codegen projection."""
    from ..operators.textstats import sentence_cols

    docs = _t(spark, sf_dir, "documents")
    cols = sentence_cols(F.col("text"))
    return docs.select("doc_id", *[c.alias(k) for k, c in cols.items()])


SQL_TEXT_SENTENCE_STATS = """
with b as (
  select doc_id, length(text)::BIGINT as n_chars,
         (length(text) - length(regexp_replace(text, '[.!?]', '', 'g')))::BIGINT
           as n_bounds
  from documents
)
select doc_id, greatest(1, n_bounds)::BIGINT as n_sentences,
       round((n_chars - n_bounds)::DOUBLE / greatest(1, n_bounds)::DOUBLE, 4)
         as mean_sentence_len
from b
"""


def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-style readability per document
    (operators/textstats.readability_cols): integer word / sentence /
    vowel-group-syllable counts -> the classic reading-ease formula as
    per-row double arithmetic, floor-truncated, plus a banded
    classification. Pure codegen projection — one scan, no shuffle."""
    from ..operators.textstats import readability_cols

    docs = _t(spark, sf_dir, "documents")
    cols = readability_cols(F.col("text"))
    return docs.select("doc_id", *[c.alias(k) for k, c in cols.items()])


SQL_TEXT_READABILITY = """
with b as (
  select doc_id,
         len(string_split(text, ' '))::BIGINT as n_words,
         (length(text) - length(regexp_replace(text, '[.!?]', '', 'g')))::BIGINT
           as n_bounds,
         regexp_replace(lower(text), '[aeiouy]+', 'V', 'g') as marked
  from documents
), c as (
  select doc_id, n_words,
         greatest(1, n_bounds)::BIGINT as n_sentences,
         (length(marked) - length(translate(marked, 'V', '')))::BIGINT
           as n_syllables
  from b
), f as (
  select doc_id, n_words, n_sentences, n_syllables,
         floor((206.835 - 1.015 * (n_words::DOUBLE / n_sentences::DOUBLE)
                - 84.6 * (n_syllables::DOUBLE / n_words::DOUBLE))
               * 1000000.0) / 1000000.0 as flesch
  from c
)
select doc_id, n_words, n_sentences, n_syllables, flesch,
       case when flesch >= 90.0 then 'very_easy'
            when flesch >= 60.0 then 'plain'
            when flesch >= 30.0 then 'difficult'
            else 'very_difficult' end as band
from f
"""


def q_text_unicode_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charset/mojibake QA gate (operators/textstats.unicode_profile_cols)
    with PLANTED defects (the embedding_qa pattern — the fixture corpus is
    pure ASCII, so the gate's columns would otherwise read trivially):
    doc_id % 7 == 0 gets a Latin-1-double-decode marker suffix,
    doc_id % 11 == 0 gets a BEL control char. One scan, pure codegen."""
    from ..operators.textstats import unicode_profile_cols

    docs = _t(spark, sf_dir, "documents")
    doctored = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 7 == 0, F.lit(" nÃ¯ve")).otherwise(
                F.lit("")
            ),
            F.when(F.col("doc_id") % 11 == 0, F.lit("\x07")).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    cols = unicode_profile_cols(F.col("text"))
    return doctored.select(
        "doc_id", *[c.alias(k) for k, c in cols.items()]
    )


SQL_TEXT_UNICODE_PROFILE = """
with doctored as (
  select doc_id,
         text || case when doc_id % 7 = 0 then ' nÃ¯ve' else '' end
              || case when doc_id % 11 = 0 then chr(7) else '' end as text
  from documents
), b as (
  select doc_id, length(text)::BIGINT as n_chars,
         length(regexp_replace(text, '[^\\x00-\\x7F]', '', 'g'))::BIGINT
           as n_ascii,
         (length(text)
          - length(regexp_replace(text,
              '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]', '', 'g')))::BIGINT
           as n_control,
         (length(text) - length(translate(text, 'Ã', '')))::BIGINT
           as n_mojibake
  from doctored
), r as (
  select doc_id, n_chars, n_ascii, n_control, n_mojibake,
         floor((n_ascii::DOUBLE / greatest(1, n_chars)::DOUBLE) * 1000000.0)
           / 1000000.0 as ascii_ratio
  from b
)
select doc_id, n_chars, n_ascii, n_control, n_mojibake, ascii_ratio,
       case when ascii_ratio < 0.95 or n_mojibake > 0 then 'suspect'
            when n_control > 0 then 'control_chars'
            else 'clean' end as charset_flag
from r
"""


def q_lang_script_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-language vs script cross-check — per language: how many
    docs carry a script that contradicts the label (zh tagged text that
    is ~pure ASCII; latin-language text that is mostly non-ASCII). The
    mislabeled-ingest detector: a feed whose `lang` metadata drifts from
    its bytes poisons language budgets downstream. ONE map-side-partial
    groupBy over per-row codegen'd predicates; integer ppm output."""
    docs = _t(spark, sf_dir, "documents")
    n_chars = F.length("text").cast("long")
    n_ascii = F.length(F.regexp_replace("text", "[^\x00-\x7f]", "")).cast("long")
    ratio = n_ascii.cast("double") / F.greatest(F.lit(1).cast("long"), n_chars).cast(
        "double"
    )
    mismatch = (
        ((F.col("lang") == "zh") & (ratio > 0.95))
        | (F.col("lang").isin("en", "de", "es", "fr") & (ratio < 0.5))
    ).cast("long")
    agg = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(mismatch).cast("long").alias("n_mismatch"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "n_mismatch",
        F.expr("n_mismatch * 1000000 div n_docs").cast("long").alias(
            "mismatch_ppm"
        ),
    )


SQL_LANG_SCRIPT_AUDIT = """
with b as (
  select lang,
         case when (lang = 'zh' and
                    length(regexp_replace(text, '[^\\x00-\\x7F]', '', 'g'))::DOUBLE
                      / greatest(1, length(text))::DOUBLE > 0.95)
                or (lang in ('en', 'de', 'es', 'fr') and
                    length(regexp_replace(text, '[^\\x00-\\x7F]', '', 'g'))::DOUBLE
                      / greatest(1, length(text))::DOUBLE < 0.5)
              then 1 else 0 end as mm
  from documents
)
select lang, count(*)::BIGINT as n_docs, sum(mm)::BIGINT as n_mismatch,
       ((sum(mm) * 1000000) // count(*))::BIGINT as mismatch_ppm
from b group by lang
"""


def q_text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc first-occurrence shingle novelty (operators/textstats.
    ngram_novelty) over the duplicate-planted corpus: exact copies score
    0.0 (every shingle first appeared in the original), the tail-cut
    near-dups score only their lost-prefix share. The corpus-saturation
    dashboard metric; see the operator docstring for the 3-shuffle shape."""
    from ..operators.textstats import ngram_novelty

    return ngram_novelty(_corpus(spark, sf_dir))


SQL_TEXT_NGRAM_NOVELTY = f"""
with corpus as ({CORPUS_SQL}), {_SQL_SHINGLES},
first as (
  select shingle, min(doc_id) as first_doc from sh group by shingle
),
per as (
  select s.doc_id, count(*)::BIGINT as n_shingles,
         sum(case when f.first_doc = s.doc_id then 1 else 0 end)::BIGINT as n_novel
  from sh s join first f using (shingle) group by s.doc_id
)
select doc_id, n_shingles, n_novel,
       floor((n_novel::DOUBLE / n_shingles::DOUBLE) * 1000000.0) / 1000000.0
         as novelty
from per
"""


#: code-snippet plant shared verbatim: every 13th document gets a code tail
_CODE_TEXT_EXPR = """(case when doc_id % 13 = 0 then text ||
 ' def f(x): { return x; } import os; class T { void g() { y = 2; } }'
 else text end)"""


def q_text_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose routing (operators/textstats.code_detect_cols) with a
    planted code tail on every 13th document: brace/semicolon/keyword
    counts by the replace-trick (exact integer, regex-free), absolute-
    count is_code gate. The stream splitter a training-data pipeline runs
    before per-stream quality scoring. Pure scan-time projection."""
    from ..operators.textstats import code_detect_cols

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_CODE_TEXT_EXPR).alias("t")
    )
    cols = code_detect_cols(F.col("t"))
    return docs.select("doc_id", *[c.alias(k) for k, c in cols.items()])


def _sql_text_code_detect() -> str:
    from ..operators.textstats import code_detect_sql_cols

    cols = code_detect_sql_cols("t")
    sel = ",\n       ".join(f"{e} as {k}" for k, e in cols.items())
    return f"""
with docs as (select doc_id, {_CODE_TEXT_EXPR} as t from documents)
select doc_id,
       {sel}
from docs
"""


def q_text_langmix_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-language document audit: per-paragraph language ID (the F-
    surface stopword heuristic applied per chunk), rolled up per doc to
    (n_paras, n_langs, primary_lang, is_mixed) — the CCNet-style gate
    that drops documents whose paragraphs disagree on language (scraped
    comment sections, machine-translated spam). One explode + two
    groupBys; the primary-language window runs over the doc x lang
    rollup (<= 6 rows per doc), never the paragraph table."""
    from ..operators.dedup import PARA_CHUNK_RE
    from ..operators.textstats import lang_id_col, tokens_col

    docs = _t(spark, sf_dir, "documents")
    paras = docs.select(
        "doc_id",
        F.explode(
            F.expr(f"regexp_extract_all(text, '{PARA_CHUNK_RE}', 0)")
        ).alias("para"),
    )
    pl = paras.select(
        "doc_id", lang_id_col(tokens_col(F.col("para"))).alias("plang")
    )
    per = pl.groupBy("doc_id", "plang").agg(F.count("*").alias("n"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("n").desc(), F.col("plang").asc()
    )
    prim = (
        per.filter(F.col("plang") != "und")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("plang").alias("primary_lang"))
    )
    aggd = per.groupBy("doc_id").agg(
        F.sum("n").cast("long").alias("n_paras"),
        F.sum(
            F.when(F.col("plang") != "und", 1).otherwise(0)
        ).cast("long").alias("n_langs"),
    )
    return aggd.join(prim, "doc_id", "left").select(
        "doc_id",
        "n_paras",
        "n_langs",
        F.coalesce(F.col("primary_lang"), F.lit("und")).alias("primary_lang"),
        (F.col("n_langs") > 1).alias("is_mixed"),
    )


def _sql_text_langmix_paragraphs() -> str:
    from ..operators.dedup import PARA_CHUNK_RE
    from ..operators.textstats import STOPWORDS

    tok = "string_split(para, ' ')"

    def sw(words: tuple[str, ...]) -> str:
        quoted = ", ".join(f"'{w}'" for w in words)
        return f"len(list_filter({tok}, t -> t in ({quoted})))"

    keys = [
        f"lpad(((1000000 + -1 * {sw(ws)}))::VARCHAR, 7, '0') || '{lang}'"
        for lang, ws in sorted(STOPWORDS.items())
    ]
    least = "least(" + ", ".join(keys) + ")"
    anyhit = " + ".join(sw(ws) for _, ws in sorted(STOPWORDS.items()))
    return f"""
with paras as (
  select doc_id,
         unnest(regexp_extract_all(text, '{PARA_CHUNK_RE}')) as para
  from documents
),
pl as (
  select doc_id,
         case when ({anyhit}) = 0 then 'und' else substr({least}, 8) end
           as plang
  from paras
),
per as (select doc_id, plang, count(*) as n from pl group by 1, 2),
known as (
  select doc_id, plang,
         row_number() over (partition by doc_id order by n desc, plang asc)
           as rn
  from per where plang <> 'und'
),
agg as (
  select doc_id, sum(n)::BIGINT as n_paras,
         sum(case when plang <> 'und' then 1 else 0 end)::BIGINT as n_langs
  from per group by doc_id
)
select a.doc_id, a.n_paras, a.n_langs,
       coalesce(k.plang, 'und') as primary_lang,
       a.n_langs > 1 as is_mixed
from agg a left join known k on a.doc_id = k.doc_id and k.rn = 1
"""


#: planted per-host banner: every third doc gets a PARA_WORDS-word promo
#: banner prefix that depends only on its host, so paragraph chunk 1 is
#: byte-identical across that host's banner docs (shared verbatim)
_BOILER_TEXT_EXPR = (
    "case when doc_id % 3 = 0 then "
    "trim(repeat('promo' || cast(doc_id % 7 as varchar(10)) || ' ', 20))"
    " || ' ' || text else text end"
)
_BOILER_HOST_EXPR = "'h' || cast(doc_id % 7 as varchar(10))"


def q_text_host_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host repeated-paragraph (boilerplate) detection — the CCNet
    dedup-within-host pass that strips nav banners, cookie notices and
    footers BEFORE quality scoring: a paragraph hash appearing in >= 30%
    of a host's documents (min 3) is boilerplate, whatever its content.
    Shape: one explode, a per-(host, doc, hash) distinct, one groupBy —
    all shuffles on host-prefixed keys; output is only the repeated
    paragraphs (n_docs >= 2), a vanishing fraction of the corpus."""
    from ..operators.textstats import hash32_col

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(_BOILER_HOST_EXPR).alias("host"),
        F.expr(_BOILER_TEXT_EXPR).alias("text2"),
    )
    from ..operators.dedup import PARA_CHUNK_RE

    paras = docs.select(
        "host",
        "doc_id",
        F.explode(
            F.expr(f"regexp_extract_all(text2, '{PARA_CHUNK_RE}', 0)")
        ).alias("para"),
    ).select("host", "doc_id", hash32_col(F.col("para")).alias("para_hash"))
    counts = (
        paras.distinct()
        .groupBy("host", "para_hash")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
    )
    host_docs = docs.groupBy("host").agg(F.count("*").alias("n_host_docs"))
    out = counts.join(host_docs, "host")
    share = F.expr(
        "cast((n_docs * cast(1000000 as bigint)) div n_host_docs as bigint)"
    )
    return out.select(
        "host",
        "para_hash",
        "n_docs",
        "n_host_docs",
        share.alias("share_ppm"),
        ((F.col("n_docs") >= 3) & (share >= 300000)).alias("is_boilerplate"),
    )


def _sql_text_host_boilerplate() -> str:
    from ..operators.dedup import PARA_CHUNK_RE

    return f"""
with docs as (
  select doc_id, {_BOILER_HOST_EXPR} as host, {_BOILER_TEXT_EXPR} as text2
  from documents
),
paras as (
  select distinct host, doc_id, {_H32.format(x='para')} as para_hash
  from (
    select host, doc_id,
           unnest(regexp_extract_all(text2, '{PARA_CHUNK_RE}')) as para
    from docs
  )
),
counts as (
  select host, para_hash, count(*)::BIGINT as n_docs
  from paras group by 1, 2
  having count(*) >= 2
),
hd as (select host, count(*)::BIGINT as n_host_docs from docs group by host)
select c.host, c.para_hash, c.n_docs, h.n_host_docs,
       ((c.n_docs * 1000000) // h.n_host_docs)::BIGINT as share_ppm,
       (c.n_docs >= 3
        and (c.n_docs * 1000000) // h.n_host_docs >= 300000)
         as is_boilerplate
from counts c join hd h using (host)
"""


BPE_TOP_K = 20


def q_vocab_bpe_merge_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top BPE merge candidates — the first iteration of byte-pair-encoding
    vocabulary training (Sennrich et al. 2016): count every ADJACENT token
    pair in the corpus and rank the most frequent (the pair a BPE trainer
    would merge next). Shape: pairs build from SLICES zipped together so
    the lambda touches only its arguments (the lambda-capture re-inline
    trap — element_at(split(...), i+1) inside a transform re-runs the
    split per element); the top-K is TakeOrderedAndProject (per-partition
    partial top-K, no global sort) and the rank window runs over K rows."""
    docs = _t(spark, sf_dir, "documents")
    pairs = docs.selectExpr("split(text, ' ') as arr").selectExpr(
        "explode(zip_with(slice(arr, 1, size(arr) - 1),"
        " slice(arr, 2, size(arr) - 1),"
        " (a, b) -> concat(a, ' ', b))) as pair"
    )
    counts = pairs.groupBy("pair").agg(F.count("*").cast("long").alias("cnt"))
    topk = counts.orderBy(F.desc("cnt"), F.asc("pair")).limit(BPE_TOP_K)
    wr = Window.orderBy(F.desc("cnt"), F.asc("pair"))
    return topk.select(
        F.row_number().over(wr).cast("long").alias("rank"), "pair", "cnt"
    )


SQL_VOCAB_BPE_MERGE_TOPK = f"""
with a as (select {_SQL_TOKENS} as arr from documents),
p as (
  select unnest(list_transform(range(1, len(arr)),
                               i -> arr[i] || ' ' || arr[i + 1])) as pair
  from a
),
c as (select pair, count(*)::BIGINT as cnt from p group by pair),
top as (select pair, cnt from c order by cnt desc, pair limit {BPE_TOP_K})
select row_number() over (order by cnt desc, pair)::BIGINT as rank, pair, cnt
from top
"""


def q_text_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length percentiles (p50/p90/p99 + max) — the
    distribution card that sizes tokenizer batches and flags sources
    whose tail documents need chunking. DISCRETE percentiles only
    (percentile_disc == DuckDB quantile_disc: the smallest value at
    cumulative share >= p — an ORDER STATISTIC, no interpolation
    arithmetic, hence exactly cross-engine; interpolated percentile_cont
    mixes doubles and is not in the repr() gate's budget). One groupBy
    with a sort-based aggregate per source."""
    docs = _t(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("__docs_lp")
    return spark.sql(
        """
select source, count(*) as n_docs,
       percentile_disc(0.5) within group (order by n_chars) as p50_chars,
       percentile_disc(0.9) within group (order by n_chars) as p90_chars,
       percentile_disc(0.99) within group (order by n_chars) as p99_chars,
       max(n_chars) as max_chars
from __docs_lp group by source
"""
    ).selectExpr(
        "source",
        "cast(n_docs as bigint) as n_docs",
        "cast(p50_chars as bigint) as p50_chars",
        "cast(p90_chars as bigint) as p90_chars",
        "cast(p99_chars as bigint) as p99_chars",
        "cast(max_chars as bigint) as max_chars",
    )


SQL_TEXT_LENGTH_PERCENTILES = """
select source, count(*)::BIGINT as n_docs,
       quantile_disc(n_chars, 0.5)::BIGINT as p50_chars,
       quantile_disc(n_chars, 0.9)::BIGINT as p90_chars,
       quantile_disc(n_chars, 0.99)::BIGINT as p99_chars,
       max(n_chars)::BIGINT as max_chars
from documents group by source
"""


_SIG_MIN_COUNT = 5
_SIG_TOP_K = 5


def q_text_source_signature_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature terms per source — the ln-free tf-idf analog: for each
    source, the tokens most over-represented vs the corpus (integer lift
    = local share / corpus share by exact cross-multiplication), minimum
    corpus support _SIG_MIN_COUNT, top _SIG_TOP_K per source. The
    domain-fingerprint table a mixture designer reads ("what IS this
    source"). Shape: one token-explode groupBy to the (token, source)
    rollup; per-token totals attach by shuffle equi-join (vocabulary-
    sized, NOT broadcast — the oov-vocab lesson caps broadcasts at
    constants, and a corpus vocabulary is not one); per-source totals
    and the 1-row grand total broadcast (bounded dims); the rank window
    partitions by source over vocabulary-bounded candidate lists."""
    from ..operators.textstats import tokens_col

    docs = _t(spark, sf_dir, "documents")
    ts = (
        docs.select("source", F.explode(tokens_col(F.col("text"))).alias("token"))
        .groupBy("token", "source")
        .agg(F.count("*").cast("long").alias("n_ts"))
    )
    nt = ts.groupBy("token").agg(F.sum("n_ts").cast("long").alias("n_t"))
    ns = ts.groupBy("source").agg(F.sum("n_ts").cast("long").alias("n_s"))
    tot = ts.agg(F.sum("n_ts").cast("long").alias("n_all"))
    scored = (
        ts.join(nt, "token")
        .filter(F.col("n_t") >= _SIG_MIN_COUNT)
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "source",
            "token",
            "n_ts",
            "n_t",
            "cast((n_ts * n_all * cast(1000000 as bigint))"
            " div (n_t * n_s) as bigint) as lift_ppm",
        )
    )
    wr = Window.partitionBy("source").orderBy(
        F.desc("lift_ppm"), F.desc("n_ts"), F.asc("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= _SIG_TOP_K)
        .select("source", "rank", "token", "n_ts", "n_t", "lift_ppm")
    )


SQL_TEXT_SOURCE_SIGNATURE_TERMS = f"""
with tok as (
  select source, unnest({_SQL_TOKENS}) as token from documents
),
ts as (
  select token, source, count(*)::BIGINT as n_ts
  from tok group by token, source
),
nt as (select token, sum(n_ts)::BIGINT as n_t from ts group by token),
ns as (select source, sum(n_ts)::BIGINT as n_s from ts group by source),
tot as (select sum(n_ts)::BIGINT as n_all from ts),
scored as (
  select source, ts.token, n_ts, n_t,
         ((n_ts * n_all * 1000000) // (n_t * n_s))::BIGINT as lift_ppm
  from ts
  join nt on ts.token = nt.token
  join ns using (source)
  cross join tot
  where n_t >= {_SIG_MIN_COUNT}
),
rk as (
  select *, row_number() over (
    partition by source order by lift_ppm desc, n_ts desc, token asc
  ) as rank
  from scored
)
select source, rank::BIGINT as rank, token, n_ts, n_t, lift_ppm
from rk where rank <= {_SIG_TOP_K}
"""


#: corpus-prefix grid for vocabulary growth (percent of the doc_id range)
_VOCAB_PREFIXES = (10, 50, 100)


def q_text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth: distinct-token count at 10% / 50% /
    100% corpus prefixes (by doc_id order) — the saturation curve that
    says whether more crawling still buys new vocabulary (pairs with
    text_ngram_novelty's per-doc view). Shape: ONE token explode; each
    token row fans out only to the prefixes that INCLUDE it (bounded
    explode over the 3-point grid with a filter, not 3 scans); distinct
    per prefix is one groupBy. Type-token ratio in integer ppm."""
    docs = _t(spark, sf_dir, "documents")
    mx = docs.agg(F.max("doc_id").alias("mx"))
    grid = ", ".join(str(p) for p in _VOCAB_PREFIXES)
    tok = (
        docs.crossJoin(F.broadcast(mx))
        .select(
            "doc_id",
            "mx",
            F.explode(F.split(F.col("text"), " ")).alias("token"),
        )
        .select(
            "doc_id",
            "mx",
            "token",
            F.explode(F.expr(f"array({grid})")).alias("p"),
        )
        .filter(F.expr("doc_id * 100 <= (mx + 1) * p"))
    )
    return tok.groupBy("p").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.countDistinct("token").cast("long").alias("n_distinct"),
    ).selectExpr(
        "cast(p as bigint) as prefix_pct",
        "n_tokens",
        "n_distinct",
        "cast((n_distinct * cast(1000000 as bigint)) div n_tokens as bigint)"
        " as type_token_ppm",
    )


def _sql_text_vocab_growth() -> str:
    grid = ", ".join(str(p) for p in _VOCAB_PREFIXES)
    return f"""
with mx as (select max(doc_id) as mx from documents),
tok as (
  select doc_id, mx, unnest({_SQL_TOKENS}) as token
  from documents cross join mx
),
g as (
  select doc_id, mx, token, p
  from tok, unnest([{grid}]) as t(p)
  where doc_id * 100 <= (mx + 1) * p
)
select p::BIGINT as prefix_pct, count(*)::BIGINT as n_tokens,
       count(distinct token)::BIGINT as n_distinct,
       ((count(distinct token) * 1000000) // count(*))::BIGINT
         as type_token_ppm
from g group by p
"""


#: page body with planted numerals (the corpus text is digit-free word
#: salad) — shared verbatim; no backslash (CLAUDE.md escaping rule)
_NUMERIC_BODY_EXPR = (
    "text || ' ' || cast(doc_id * 7 as varchar(20)) || ' items "
    "rev ' || cast(doc_id % 100 as varchar(10))"
)
#: digit characters via translate-and-diff (regexp_replace is out: DuckDB
#: replaces first-match-only without the 'g' flag, Spark is global)
_DIGIT_CHARS_EXPR = "length(body) - length(translate(body, '0123456789', ''))"


def q_text_numeric_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric-content profile per source: share of tokens that are pure
    numerals and share of characters that are digits — the table/price-
    list/log-dump detector every corpus-quality ladder carries (numeric-
    heavy pages are boilerplate-dense and low-value for LM training).
    Digit chars count via translate-and-diff (exact, global, identical
    in both engines); numeric tokens via a higher-order filter whose
    lambda touches only its own argument (the lambda-capture re-inline
    trap). One scan, pure codegen projections, one bounded groupBy."""
    docs = _t(spark, sf_dir, "documents")
    per = docs.selectExpr(
        "source", f"{_NUMERIC_BODY_EXPR} as body"
    ).selectExpr(
        "source",
        "cast(length(body) as bigint) as n_chars",
        f"cast({_DIGIT_CHARS_EXPR} as bigint) as n_digit",
        "cast(size(split(body, ' ')) as bigint) as n_tok",
        "cast(size(filter(split(body, ' '),"
        " t -> t rlike '^[0-9]+$')) as bigint) as n_num",
    )
    return per.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.expr(
            "cast((sum(n_num) * cast(1000000 as bigint)) div sum(n_tok)"
            " as bigint)"
        ).alias("numeric_token_ppm"),
        F.expr(
            "cast((sum(n_digit) * cast(1000000 as bigint)) div sum(n_chars)"
            " as bigint)"
        ).alias("digit_char_ppm"),
    )


SQL_TEXT_NUMERIC_DENSITY = f"""
with b as (select source, {_NUMERIC_BODY_EXPR} as body from documents),
per as (
  select source,
         length(body)::BIGINT as n_chars,
         ({_DIGIT_CHARS_EXPR})::BIGINT as n_digit,
         len(string_split(body, ' '))::BIGINT as n_tok,
         len(list_filter(string_split(body, ' '),
             t -> regexp_full_match(t, '[0-9]+')))::BIGINT as n_num
  from b
)
select source, count(*)::BIGINT as n_docs, sum(n_tok)::BIGINT as n_tokens,
       ((sum(n_num) * 1000000) // sum(n_tok))::BIGINT as numeric_token_ppm,
       ((sum(n_digit) * 1000000) // sum(n_chars))::BIGINT as digit_char_ppm
from per group by source
"""


def q_text_paragraph_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-length histogram of the chunked corpus: documents split
    into ≤PARA_WORDS-word chunks (the same PARA_CHUNK_RE grammar
    dedup_paragraph hashes), then one row per exact chunk length with
    chunk count, token mass and token share — the packing-relevant
    shape readout (how much of the corpus sits in full chunks vs
    ragged remainders). Token count per chunk is space-counting via
    replace-and-diff (exact, global in both engines). Shape: one scan,
    one bounded explode (chunks per doc ≤ len/PARA_WORDS + 1), a
    ≤PARA_WORDS-row groupBy and share window."""
    from ..operators.dedup import PARA_CHUNK_RE

    docs = _t(spark, sf_dir, "documents")
    chunks = docs.select(
        F.explode(
            F.expr(f"regexp_extract_all(text, '{PARA_CHUNK_RE}', 0)")
        ).alias("chunk")
    )
    n = chunks.selectExpr(
        "cast(length(chunk) - length(replace(chunk, ' ', '')) + 1"
        " as bigint) as n_tok"
    )
    agg = n.groupBy("n_tok").agg(
        F.count("*").cast("long").alias("n_chunks"),
    ).selectExpr("n_tok", "n_chunks", "n_tok * n_chunks as n_tokens")
    wt = Window.partitionBy()
    return agg.withColumn("__tot", F.sum("n_tokens").over(wt)).selectExpr(
        "n_tok",
        "n_chunks",
        "n_tokens",
        "cast((n_tokens * cast(1000000 as bigint)) div __tot as bigint)"
        " as token_share_ppm",
    )


def _sql_text_paragraph_length_profile() -> str:
    from ..operators.dedup import PARA_CHUNK_RE

    return f"""
with chunks as (
  select unnest(regexp_extract_all(text, '{PARA_CHUNK_RE}', 0)) as chunk
  from documents
),
n as (
  select (length(chunk) - length(replace(chunk, ' ', '')) + 1)::BIGINT
           as n_tok
  from chunks
),
agg as (
  select n_tok, count(*)::BIGINT as n_chunks,
         (n_tok * count(*))::BIGINT as n_tokens
  from n group by n_tok
)
select n_tok, n_chunks, n_tokens,
       ((n_tokens * 1000000) // (sum(n_tokens) over ()))::BIGINT
         as token_share_ppm
from agg
"""


#: RAKE-style stopword boundary set (shared as content between engines)
_PHRASE_STOPS = ("the", "a", "of", "and", "to", "in", "is", "on", "for")
_PHRASE_TOPK = 20


def q_text_phrase_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE-lite phrase mining: split every document at stopword
    boundaries (gaps-and-islands over token positions — the islands
    idiom on TEXT), count multi-word phrase occurrences corpus-wide and
    keep the top {_PHRASE_TOPK} — keyword extraction for dataset cards
    without any model. Phrase assembly inside an island is
    order-deterministic: collect (pos, tok) structs, array_sort, join
    (collect_list alone has no order guarantee in Spark). Per-doc
    windows are bounded by document length; the final top-k is a
    TakeOrderedAndProject, never a global sort."""
    stops = ", ".join(f"'{s}'" for s in _PHRASE_STOPS)
    toks = _t(spark, sf_dir, "documents").select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok")
    ).withColumn("is_stop", F.expr(f"case when tok in ({stops}) then 1 else 0 end"))
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    isl = toks.withColumn("island", F.sum("is_stop").over(w)).filter(
        F.col("is_stop") == 0
    )
    phrases = isl.groupBy("doc_id", "island").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(pos, tok))),"
            " x -> x.tok), ' ') as phrase"
        ),
        F.count("*").cast("long").alias("n_words"),
    ).filter(F.col("n_words") >= 2)
    agg = phrases.groupBy("phrase").agg(
        F.count("*").cast("long").alias("n_occurrences"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
    )
    wr = Window.orderBy(F.col("n_occurrences").desc(), F.col("phrase"))
    return (
        agg.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= _PHRASE_TOPK)
        .select(
            F.col("rank").cast("long").alias("rank"),
            "phrase",
            "n_occurrences",
            "n_docs",
        )
    )


SQL_TEXT_PHRASE_MINE = f"""
with toks as (
  select doc_id, unnest(string_split(text, ' ')) as tok,
         generate_subscripts(string_split(text, ' '), 1) as pos
  from documents
),
flagged as (
  select doc_id, pos, tok,
         case when tok in ({", ".join(f"'{s}'" for s in _PHRASE_STOPS)}) then 1 else 0 end as is_stop
  from toks
),
isl as (
  select doc_id, pos, tok,
         sum(is_stop) over (
           partition by doc_id order by pos
           rows between unbounded preceding and current row
         ) as island,
         is_stop
  from flagged
),
phrases as (
  select doc_id, island,
         string_agg(tok, ' ' order by pos) as phrase,
         count(*)::BIGINT as n_words
  from isl where is_stop = 0
  group by doc_id, island
),
agg as (
  select phrase, count(*)::BIGINT as n_occurrences,
         count(distinct doc_id)::BIGINT as n_docs
  from phrases where n_words >= 2
  group by phrase
),
r as (
  select phrase, n_occurrences, n_docs,
         row_number() over (order by n_occurrences desc, phrase) as rank
  from agg
)
select rank::BIGINT as rank, phrase, n_occurrences, n_docs
from r where rank <= {_PHRASE_TOPK}
"""


#: mojibake body synthesis: UTF-8-as-Latin-1 artifacts planted on two
#: coprime residue streams (shared verbatim; literal multibyte strings)
_MOJI_BODY_EXPR = (
    "text || case when doc_id % 11 = 0 then ' cafÃ©' else '' end"
    " || case when doc_id % 13 = 0 then ' itâ€™s' else '' end"
)


def q_text_mojibake_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-damage (mojibake) detection: per source, how many pages
    carry UTF-8-decoded-as-Latin-1 artifacts ('Ã©' for é, 'â€™' for a
    curly apostrophe) — the classic double-decode signature a crawl
    inherits from mislabeled Content-Type headers; a source with a high
    rate needs charset re-sniffing before the text enters training.
    Pure instr predicates over the planted body, one scan, one
    groupBy."""
    b = _t(spark, sf_dir, "documents").selectExpr(
        "source", f"{_MOJI_BODY_EXPR} as body"
    )
    flags = b.selectExpr(
        "source",
        "case when instr(body, 'Ã©') > 0 then 1 else 0 end as f_latin",
        "case when instr(body, 'â€™') > 0 then 1 else 0 end as f_punct",
    )
    return flags.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("f_latin").cast("long").alias("n_latin_artifacts"),
        F.sum("f_punct").cast("long").alias("n_punct_artifacts"),
        F.expr(
            "cast((sum(case when f_latin + f_punct > 0 then 1 else 0 end)"
            " * cast(1000000 as bigint)) div count(*) as bigint)"
        ).alias("moji_ppm"),
    )


SQL_TEXT_MOJIBAKE_DETECT = f"""
with b as (select source, {_MOJI_BODY_EXPR} as body from documents),
flags as (
  select source,
         case when instr(body, 'Ã©') > 0 then 1 else 0 end as f_latin,
         case when instr(body, 'â€™') > 0 then 1 else 0 end as f_punct
  from b
)
select source, count(*)::BIGINT as n_docs,
       sum(f_latin)::BIGINT as n_latin_artifacts,
       sum(f_punct)::BIGINT as n_punct_artifacts,
       ((sum(case when f_latin + f_punct > 0 then 1 else 0 end) * 1000000)
        // count(*))::BIGINT as moji_ppm
from flags group by source
"""


# --- session-47: simhash drift, split leakage, novelty rate -----------------


def q_text_simhash_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy corpus-drift monitor: per source, a GROUP-level 64-bit
    simhash (token bit-votes aggregated over the whole epoch slice, not
    per doc) for the even-id and odd-id epochs, compared by Hamming
    distance — checkpoint.snapshot_diff sees only exact-hash turnover;
    this sees DISTRIBUTIONAL drift (a source whose vocabulary shifted
    moves many bits even when no page is byte-identical across
    epochs). Same vote/band arithmetic as dedup_simhash (all
    intermediates < 2^16 — DuckDB errors on BIGINT overflow where
    Spark wraps), one token explode, ONE groupBy per epoch pair via
    the (source, epoch) key, then a |sources|-row self-join."""
    toks = _t(spark, sf_dir, "documents").select(
        "source",
        # NOT doc_id % 2 — that is CONSTANT per source (the coprime
        # trap); (doc_id %% 40 vs %% 20) alternates within every source
        F.expr(
            "cast(case when doc_id % 40 - doc_id % 20 = 20"
            " then 1 else 0 end as bigint)"
        ).alias("epoch"),
        F.explode(F.split(F.col("text"), " ")).alias("tok"),
    ).selectExpr(
        "source",
        "epoch",
        "cast(conv(substr(md5(tok), 1, 8), 16, 10) as bigint) as h_lo",
        "cast(conv(substr(md5('hi|' || tok), 1, 8), 16, 10) as bigint)"
        " as h_hi",
    )
    votes = toks.groupBy("source", "epoch").agg(
        *[
            F.sum(
                F.expr(
                    f"case when (({'h_lo >> ' + str(b) if b < 32 else 'h_hi >> ' + str(b - 32)}) & 1) = 1"
                    " then 1 else -1 end"
                )
            ).alias(f"s{b}")
            for b in range(64)
        ]
    )
    words = votes.selectExpr(
        "source",
        "epoch",
        " + ".join(
            f"(case when s{b} > 0 then cast({1 << (b % 32)} as bigint)"
            " else cast(0 as bigint) end)"
            for b in range(32)
        )
        + " as w0",
        " + ".join(
            f"(case when s{b} > 0 then cast({1 << (b % 32)} as bigint)"
            " else cast(0 as bigint) end)"
            for b in range(32, 64)
        )
        + " as w1",
    )
    a = words.filter(F.col("epoch") == 0).select(
        "source", F.col("w0").alias("a0"), F.col("w1").alias("a1")
    )
    b_ = words.filter(F.col("epoch") == 1).select(
        "source", F.col("w0").alias("b0"), F.col("w1").alias("b1")
    )
    return a.join(b_, "source").selectExpr(
        "source",
        "cast(bit_count(a0 ^ b0) + bit_count(a1 ^ b1) as bigint)"
        " as hamming_64",
        "cast((bit_count(a0 ^ b0) + bit_count(a1 ^ b1))"
        " * cast(1000000 as bigint) div 64 as bigint) as drift_ppm",
    )


def _sql_text_simhash_drift() -> str:
    votes = ", ".join(
        "sum(case when (({src}) & 1) = 1 then 1 else -1 end) as s{b}".format(
            src=f"h_lo >> {b}" if b < 32 else f"h_hi >> {b - 32}", b=b
        )
        for b in range(64)
    )
    w0 = " + ".join(
        f"(case when s{b} > 0 then {1 << (b % 32)}::BIGINT else 0::BIGINT end)"
        for b in range(32)
    )
    w1 = " + ".join(
        f"(case when s{b} > 0 then {1 << (b % 32)}::BIGINT else 0::BIGINT end)"
        for b in range(32, 64)
    )
    return f"""
with toks as (
  select source,
         (case when doc_id % 40 - doc_id % 20 = 20 then 1 else 0 end)::BIGINT
           as epoch,
         ('0x' || substr(md5(tok), 1, 8))::BIGINT as h_lo,
         ('0x' || substr(md5('hi|' || tok), 1, 8))::BIGINT as h_hi
  from (select source, doc_id, unnest(string_split(text, ' ')) as tok
        from documents)
),
votes as (
  select source, epoch, {votes}
  from toks group by source, epoch
),
words as (
  select source, epoch, ({w0}) as w0, ({w1}) as w1 from votes
),
a as (select source, w0 as a0, w1 as a1 from words where epoch = 0),
b as (select source, w0 as b0, w1 as b1 from words where epoch = 1)
select a.source,
       (bit_count(xor(a0, b0)) + bit_count(xor(a1, b1)))::BIGINT
         as hamming_64,
       ((bit_count(xor(a0, b0)) + bit_count(xor(a1, b1))) * 1000000 // 64)
         ::BIGINT as drift_ppm
from a join b on a.source = b.source
"""


def q_text_hapax_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-DOCUMENT hapax share per source: of each document's
    distinct tokens, how many occur exactly once in that document,
    aggregated per source — the repetition-complement lexical signal
    (a keyword-stuffed page repeats everything: few within-doc
    hapaxes). NB source-LEVEL hapaxes are degenerate on this corpus
    (a ~30-word recycled vocabulary has none) — the document grain is
    both non-degenerate and the one the per-page quality gate wants.
    One token explode, a (source, doc, token) rollup, a bounded
    per-source rollup."""
    tok = _t(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.explode(F.split(F.col("text"), " ")).alias("token"),
    )
    tf = tok.groupBy("source", "doc_id", "token").agg(
        F.count("*").cast("long").alias("n")
    )
    return tf.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
        F.sum(F.expr("case when n = 1 then 1 else 0 end"))
        .cast("long").alias("n_hapax"),
    ).selectExpr(
        "source",
        "n_tokens",
        "n_types",
        "n_hapax",
        "cast((n_hapax * cast(1000000 as bigint)) div n_types as bigint)"
        " as hapax_ppm",
    )


SQL_TEXT_HAPAX_SHARE = """
with tok as (
  select source, doc_id, unnest(string_split(text, ' ')) as token
  from documents
),
tf as (
  select source, doc_id, token, count(*)::BIGINT as n
  from tok group by source, doc_id, token
)
select source, sum(n)::BIGINT as n_tokens, count(*)::BIGINT as n_types,
       sum(case when n = 1 then 1 else 0 end)::BIGINT as n_hapax,
       ((sum(case when n = 1 then 1 else 0 end) * 1000000)
        // count(*))::BIGINT as hapax_ppm
from tf group by source
"""
