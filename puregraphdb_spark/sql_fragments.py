"""Shared SQL text fragments composed into more than one query.

ADVICE r12: q163's oracle duplicated q160's entire scored-relation
SQL verbatim, so the copies of the bigram-model CTE chain had to stay
byte-identical — an edit to one would silently decouple q163's
selection curve from q160's scores. The chain now lives HERE once and
is composed into both oracles (the SQL door derives their Spark text
with ``sql_library.to_spark``); the `scored` CTE carries the superset
of columns (num/den for q160's micro average, n_trans/score for both)
and each consumer projects what it needs — unused CTE columns are
pruned by either engine's optimizer.

The fragment ends after the closing paren of `scored as (...)`: q160
appends its final `select`; q163 appends `, thr as (...) select`.
"""

# ----------------------------------------------------------------- #
# Synthesized multimodal manifest (q168 asset inventory + q170
# payload dedup): the CTE mirror of operators/multimodal.py
# _doc_asset_manifest — one copy, composed into both oracles (their
# Spark text is derived by sql_library.to_spark) so the plant can
# never drift between family members. DuckDB has no md5(BLOB) (found
# at the q168 gate), so the payload stays VARCHAR (the same UTF-8
# bytes) — consumers call md5(payload_text) / octet_length(encode()).
# ----------------------------------------------------------------- #

ASSET_MANIFEST_CTE_DUCKDB = """\
with manifest as (
                select doc_id as asset_id,
                       (['image','audio','video'])[doc_id % 3 + 1]
                         as modality,
                       (['image/png','audio/wav','video/mp4'])
                         [doc_id % 3 + 1] as media_type,
                       case when doc_id % 13 = 0 then null
                            when doc_id % 37 = 0
                            then concat('shared-asset-',
                                        cast(doc_id % 3 as string))
                            else text end as payload_text
                from documents)"""


# ----------------------------------------------------------------- #
# Portable per-doc text profile (text_profile / text_quality_report,
# oracled since r13): CTE chain ending in `prof` = (doc_id, source,
# lang_detected, n_tokens_ws, n_tokens_bpe, quality, fingerprint).
# Shared between the per-doc and the per-source rollup oracles in
# both dialects — the same single-source rule as the LM fragment.
#
# Engine-portability decisions (mirrors operators/text.py):
# - tokens: regexp split on \\s+, empties filtered (text.tokens).
# - n_tokens_bpe: the Java lookaround split has no RE2 equivalent,
#   but its token count has an exact identity: count of [a-zA-Z0-9_]+
#   runs + count of single [^a-zA-Z0-9_\\s] chars (Java \\w/\\s are
#   ASCII here). Both engines count via regexp_extract_all.
# - lang argmax: the CASE chain awards the FIRST language (profile
#   order en,de,es,fr,zh) achieving the positive maximum — exactly
#   detect_language's strictly-greater update loop.
# - quality: every factor is an exact-integer ratio in IEEE double
#   with identical operand order and explicit double casts (decimal
#   literals differ between engines), snapped via decimal(28,8)→4dp.
# - fingerprint: min md5 hex over space-joined 8-token windows (the
#   q84 discipline at the profile window size).
# ----------------------------------------------------------------- #

TEXT_PROFILE_CTES_DUCKDB = """\
with planted as (
                select doc_id, source,
                       case when doc_id % 13 = 0
                            then concat(text, ' zq9! wv, 7a.')
                            else text end as text
                from documents),
            tok as (
                select doc_id, source, text,
                       list_filter(regexp_split_to_array(lower(text),
                                                         '\\s+'),
                                   t -> t <> '') as toks
                from planted),
            d2 as (
                select doc_id, source, text, toks,
                       list_distinct(toks) as dtoks
                from tok),
            feat as (
                select doc_id, source,
                       cast(len(toks) as bigint) as n_tok,
                       cast(len(regexp_extract_all(text,
                                '[a-zA-Z0-9_]+'))
                            + len(regexp_extract_all(text,
                                '[^a-zA-Z0-9_\\s]'))
                         as bigint) as n_bpe,
                       length(text) as n_chars,
                       length(regexp_replace(text, '[^\\pL ]', '',
                                             'g')) as n_alpha,
                       length(regexp_replace(text, '[\\pL\\pN\\s]',
                                             '', 'g')) as n_punct,
                       len(list_intersect(dtoks,
                           ['the','and','of','to','is','in','that',
                            'with'])) as s_en,
                       len(list_intersect(dtoks,
                           ['der','die','das','und','ist','nicht',
                            'mit','ein'])) as s_de,
                       len(list_intersect(dtoks,
                           ['el','la','de','que','y','los','es',
                            'una'])) as s_es,
                       len(list_intersect(dtoks,
                           ['le','la','et','les','des','est','une',
                            'dans'])) as s_fr,
                       len(list_intersect(dtoks,
                           ['的','是','了','在','和','有','我','不']))
                         as s_zh,
                       cast(len(dtoks) as bigint) as n_dtok,
                       len(list_intersect(dtoks,
                           ['the','and','of','to','is','in','that',
                            'with','der','die','das','und','ist',
                            'nicht','mit','ein','el','la','de','que',
                            'y','los','es','una','le','et','les',
                            'des','est','une','dans',
                            '的','是','了','在','和','有','我','不']))
                         as n_stop,
                       list_min(list_transform(
                           generate_series(0,
                               greatest(len(toks) - 8, 0)),
                           i -> md5(array_to_string(
                                    toks[i+1:i+8], ' ')))) as fp
                from d2),
            prof as (
                select doc_id, source,
                       case when s_en > 0 and s_en >= s_de
                                 and s_en >= s_es and s_en >= s_fr
                                 and s_en >= s_zh then 'en'
                            when s_de > 0 and s_de >= s_es
                                 and s_de >= s_fr and s_de >= s_zh
                                 then 'de'
                            when s_es > 0 and s_es >= s_fr
                                 and s_es >= s_zh then 'es'
                            when s_fr > 0 and s_fr >= s_zh then 'fr'
                            when s_zh > 0 then 'zh'
                            else 'und' end as lang_detected,
                       n_tok as n_tokens_ws,
                       n_bpe as n_tokens_bpe,
                       cast(round(cast(
                           (case when n_tok >= 5 and n_tok <= 100000
                                 then cast(1.0 as double)
                                 else cast(0.3 as double) end)
                           * (cast(1.0 as double)
                              - cast(n_punct as double)
                                / cast(greatest(n_chars, 1)
                                       as double))
                           * (cast(0.5 as double)
                              + cast(0.5 as double)
                                * (cast(n_alpha as double)
                                   / cast(greatest(n_chars, 1)
                                          as double)))
                           * (cast(0.7 as double)
                              + cast(0.3 as double)
                                * least(cast(n_stop as double)
                                        / cast(greatest(n_dtok, 1)
                                               as double) * 5,
                                        cast(1.0 as double)))
                         as decimal(28,8)), 4) as double) as quality,
                       fp as fingerprint
                from feat)"""

TEXT_PROFILE_CTES_SPARKSQL = """\
with planted as (
            select doc_id, source,
                   case when doc_id % 13 = 0
                        then concat(text, ' zq9! wv, 7a.')
                        else text end as text
            from documents),
        tok as (
            select doc_id, source, text,
                   filter(split(lower(text), '\\\\s+'), t -> t != '')
                     as toks
            from planted),
        d2 as (
            select doc_id, source, text, toks,
                   array_distinct(toks) as dtoks
            from tok),
        feat as (
            select doc_id, source,
                   cast(size(toks) as bigint) as n_tok,
                   cast(size(regexp_extract_all(text,
                            '[a-zA-Z0-9_]+', 0))
                        + size(regexp_extract_all(text,
                            '[^a-zA-Z0-9_\\\\s]', 0))
                     as bigint) as n_bpe,
                   length(text) as n_chars,
                   length(regexp_replace(text, '[^\\\\pL ]', ''))
                     as n_alpha,
                   length(regexp_replace(text, '[\\\\pL\\\\pN\\\\s]',
                                         '')) as n_punct,
                   size(array_intersect(dtoks,
                       array('the','and','of','to','is','in','that',
                             'with'))) as s_en,
                   size(array_intersect(dtoks,
                       array('der','die','das','und','ist','nicht',
                             'mit','ein'))) as s_de,
                   size(array_intersect(dtoks,
                       array('el','la','de','que','y','los','es',
                             'una'))) as s_es,
                   size(array_intersect(dtoks,
                       array('le','la','et','les','des','est','une',
                             'dans'))) as s_fr,
                   size(array_intersect(dtoks,
                       array('的','是','了','在','和','有','我','不')))
                     as s_zh,
                   cast(size(dtoks) as bigint) as n_dtok,
                   size(array_intersect(dtoks,
                       array('the','and','of','to','is','in','that',
                             'with','der','die','das','und','ist',
                             'nicht','mit','ein','el','la','de',
                             'que','y','los','es','una','le','et',
                             'les','des','est','une','dans',
                             '的','是','了','在','和','有','我','不')))
                     as n_stop,
                   array_min(transform(
                       sequence(0, greatest(size(toks) - 8, 0)),
                       i -> md5(array_join(slice(toks, i + 1, 8),
                                           ' ')))) as fp
            from d2),
        prof as (
            select doc_id, source,
                   case when s_en > 0 and s_en >= s_de
                             and s_en >= s_es and s_en >= s_fr
                             and s_en >= s_zh then 'en'
                        when s_de > 0 and s_de >= s_es
                             and s_de >= s_fr and s_de >= s_zh
                             then 'de'
                        when s_es > 0 and s_es >= s_fr
                             and s_es >= s_zh then 'es'
                        when s_fr > 0 and s_fr >= s_zh then 'fr'
                        when s_zh > 0 then 'zh'
                        else 'und' end as lang_detected,
                   n_tok as n_tokens_ws,
                   n_bpe as n_tokens_bpe,
                   cast(round(cast(
                       (case when n_tok >= 5 and n_tok <= 100000
                             then cast(1.0 as double)
                             else cast(0.3 as double) end)
                       * (cast(1.0 as double)
                          - cast(n_punct as double)
                            / cast(greatest(n_chars, 1) as double))
                       * (cast(0.5 as double)
                          + cast(0.5 as double)
                            * (cast(n_alpha as double)
                               / cast(greatest(n_chars, 1)
                                      as double)))
                       * (cast(0.7 as double)
                          + cast(0.3 as double)
                            * least(cast(n_stop as double)
                                    / cast(greatest(n_dtok, 1)
                                           as double) * 5,
                                    cast(1.0 as double)))
                     as decimal(28,8)), 4) as double) as quality,
                   fp as fingerprint
            from feat)"""


# list_filter/string_split + unnest(generate_series) bigram formation
# (1-based list indexing).
LM_SCORED_CTES_DUCKDB = """\
with planted as (
                select doc_id, source,
                       case when doc_id % 41 = 0
                            then concat(text, ' zq',
                                        cast(doc_id % 7 as string),
                                        ' xv',
                                        cast(doc_id % 5 as string))
                            else text end as text
                from documents),
            tok as (
                select doc_id, source,
                       list_filter(string_split(lower(text), ' '),
                                   t -> t <> '') as toks
                from planted),
            bg as (
                select doc_id, source, toks[i] as w1, toks[i+1] as w2
                from tok, unnest(generate_series(1, len(toks) - 1))
                          as g(i)
                where len(toks) >= 2),
            per_doc_bg as (
                select doc_id, source, w1, w2,
                       cast(count(*) as bigint) as m
                from bg group by 1, 2, 3, 4),
            model as (
                select w1, w2, cast(sum(m) as bigint) as cb,
                       cast(sum(sum(m)) over (partition by w1)
                         as bigint) as cu
                from per_doc_bg group by w1, w2),
            scored as (
                select doc_id, source,
                       cast(sum(m * cb) as bigint) as num,
                       cast(sum(m * cu) as bigint) as den,
                       cast(sum(m) as bigint) as n_trans,
                       cast(sum(m * cb) as double)
                         / cast(sum(m * cu) as double) as score
                from per_doc_bg join model using (w1, w2)
                group by 1, 2)"""


# Per-doc langid prediction (round 14, shared by q182's oracle; the
# same stopword profiles + earliest-argmax tie rule as
# text.detect_language and q72's inline oracle).
LANGID_PRED_CTE_DUCKDB = """\
with sc as (
  select source, lang,
     len(list_intersect(ts,
       ['the','and','of','to','is','in','that','with'])) as s_en,
     len(list_intersect(ts,
       ['der','die','das','und','ist','nicht','mit','ein'])) as s_de,
     len(list_intersect(ts,
       ['el','la','de','que','y','los','es','una'])) as s_es,
     len(list_intersect(ts,
       ['le','la','et','les','des','est','une','dans'])) as s_fr,
     len(list_intersect(ts,
       ['的','是','了','在','和','有','我','不'])) as s_zh
  from (select source, lang,
           list_distinct(list_filter(
             string_split_regex(lower(text), '\\s+'),
             t -> t <> '')) as ts
        from documents)),
pred as (
  select source, lang,
     case when greatest(s_en,s_de,s_es,s_fr,s_zh) = 0 then 'und'
          when s_en = greatest(s_en,s_de,s_es,s_fr,s_zh) then 'en'
          when s_de = greatest(s_de,s_es,s_fr,s_zh) then 'de'
          when s_es = greatest(s_es,s_fr,s_zh) then 'es'
          when s_fr = greatest(s_fr,s_zh) then 'fr'
          else 'zh' end as pred_lang
  from sc)"""


LANGID_PRED_CTE_SPARKSQL = """\
with sc as (
  select source, lang,
     size(array_intersect(ts, array('the','and','of','to','is',
       'in','that','with'))) as s_en,
     size(array_intersect(ts, array('der','die','das','und','ist',
       'nicht','mit','ein'))) as s_de,
     size(array_intersect(ts, array('el','la','de','que','y',
       'los','es','una'))) as s_es,
     size(array_intersect(ts, array('le','la','et','les','des',
       'est','une','dans'))) as s_fr,
     size(array_intersect(ts, array('的','是','了','在','和',
       '有','我','不'))) as s_zh
  from (select source, lang,
           array_distinct(filter(split(lower(text), '\\\\s+'),
                                 t -> t != '')) as ts
        from documents)),
pred as (
  select source, lang,
     case when greatest(s_en,s_de,s_es,s_fr,s_zh) = 0 then 'und'
          when s_en = greatest(s_en,s_de,s_es,s_fr,s_zh) then 'en'
          when s_de = greatest(s_de,s_es,s_fr,s_zh) then 'de'
          when s_es = greatest(s_es,s_fr,s_zh) then 'es'
          when s_fr = greatest(s_fr,s_zh) then 'fr'
          else 'zh' end as pred_lang
  from sc)"""
