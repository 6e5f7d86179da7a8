"""Spark-dialect SQL for every §2 query whose ORACLE text is
DuckDB-only, so that EP2 (``Engine.sql``) covers the full declared
surface with plain SQL strings, not just the DataFrame and CALL doors.

One SQL text per query: for every name in ``DERIVED`` the Spark text is
``to_spark`` of the oracle text (``__spark_entry__.oracle_sql``).
``HAND_WRITTEN`` keeps the rest, which differ in real dialect features:
``time_bucket``, ASOF JOIN, ``list_sum``, ``isodow``,
``generate_subscripts``, ``list_cosine_similarity``, three-argument
``date_diff``, two-argument ``grouping`` and the like. No name is in
both.

The rule table's contract: ``to_spark`` renames functions and types,
rewrites list literals, 1-based ``x[i]`` indexes, ``x[a:b]`` slices,
``//``, FROM-list ``unnest`` and a few call forms, outside single-quoted
literals and comments, and touches nothing else. Each rule says when it
is exact; where that condition can be read from the text and fails,
``to_spark`` raises ``ValueError`` rather than return text that could
compute something else. Where it can only be read from the data (an
index out of range, a slice that runs backwards), the Spark text raises
at run time rather than return a different value.

Every entry is parity-tested bit-for-bit against its DataFrame
implementation (tests/test_sql_library.py), and DuckDB still runs the
oracle text verbatim, so each check keeps an independent side. Queries
whose oracle is plain ANSI run verbatim through Spark SQL and are
absent here (tests/test_sql_door_parity.py).
"""

from __future__ import annotations

import itertools
import re

from __spark_entry__ import oracle_sql
from puregraphdb_spark.sql_fragments import (
    LANGID_PRED_CTE_SPARKSQL,
    TEXT_PROFILE_CTES_SPARKSQL,
)

#: DuckDB function -> Spark function; each comment says when it is exact
_RENAMES = {
    "len": "size",  # on lists (on a string DuckDB's len is its length)
    "unnest": "explode",  # one row per element (`lateral` in a FROM list)
    "list_filter": "filter",  # with one-parameter lambdas
    "list_transform": "transform",  # one-parameter lambdas (2nd is 1-based)
    "list_distinct": "array_distinct",  # where counted: order, NULLs differ
    "list_intersect": "array_intersect",  # where counted: order differs
    "list_max": "array_max",  # on lists without NULLs
    "list_min": "array_min",  # always: both skip NULLs
    "list_sort": "array_sort",  # on lists without NULLs
    "array_to_string": "array_join",  # always: both skip NULLs
    "epoch_us": "unix_micros",  # on TIMESTAMP (the Engine reads it as UTC)
    "quantile_cont": "percentile",  # always: both interpolate linearly
    "json_extract_string": "get_json_object",  # `$.key` to a scalar
    "list": "collect_list",  # always (DuckDB's inline ORDER BY fails)
    "arg_min": "min_by",  # always (ties pick an arbitrary row in both)
}
#: DuckDB type -> Spark type
_TYPES = {
    "varchar": "string",  # always
    "hugeint": "decimal(38,0)",  # below 10^38 (above, Spark raises: ANSI)
}
#: the calls rewritten with their arguments, by ``_form``
_FORMS = ("string_split", "list_slice", "regexp_replace", "generate_series",
          "encode")
#: words after which a `[` opens a list literal, not an index
_KEYWORDS = {"select", "distinct", "all", "when", "then", "else", "and",
             "or", "not", "in", "is", "as", "on", "by", "where", "having"}

#: held out of the rewrite: single-quoted literals and `--` comments
_HELD = re.compile(r"'(?:[^']|'')*'|--[^\n]*")
_HOLE = re.compile(r"\x00(\d+)\x00")
#: what the rewrite acts on: a call, a `[`, `//` or a type of ``_TYPES``
_TOKEN = re.compile(r"\b([a-z_]+)\s*\(|\[|//|\b(?:%s)\b" % "|".join(_TYPES),
                    re.I)
_DEPTH = {"(": 1, "[": 1, ")": -1, "]": -1}
#: what separates arguments, and a slice's bounds (not a `::` cast)
_COMMA, _COLON = re.compile(","), re.compile(r"(?<!:):(?!:)")
#: what follows the arguments of an `unnest` in a FROM list
_TABLE_ALIAS = re.compile(r"\s*as\s+\w+\s*\(", re.I)


def to_spark(duckdb_sql: str) -> str:
    """The Spark-dialect text of a DuckDB oracle statement: the
    module's rule table applied outside literals and comments. Raises
    ``ValueError`` where a rule's exactness condition, read from the
    text, fails."""
    held, n = _HELD.findall(duckdb_sql), itertools.count()
    masked = _HELD.sub(lambda m: f"\x00{next(n)}\x00", duckdb_sql)
    return _show(_rewrite(masked, held), held)


def _rewrite(sql: str, held: list[str]) -> str:
    out, pos = [], 0
    while m := _TOKEN.search(sql, pos):
        out.append(sql[pos:m.start()])
        pos = m.end()
        token, name = m.group(0).lower(), (m.group(1) or "").lower()
        if token == "//":  # exact on integers: both truncate toward 0
            out.append(" div ")
        elif token in _TYPES:
            out.append(_TYPES[token])
        elif token == "[" and not _indexes(sql[:m.start()]):
            # a list literal (always exact)
            end, _ = _close(sql, m.start())
            out.append(f"array({_rewrite(sql[pos:end], held)})")
            pos = end + 1
        elif token == "[":
            end, parts = _close(sql, m.start(), _COLON)
            done = "".join(out)
            start = _operand(done, held)
            out, x = [done[:start]], done[start:].strip()
            parts = [_rewrite(p, held).strip() for p in parts]
            if parts == [""]:  # `T[]` as a type (always)
                out.append(f"array<{x.lower()}>")
            elif len(parts) == 1:
                # 1-based in both; where DuckDB gives NULL (index out of
                # range or 0, a string operand) Spark gives NULL or raises
                out.append(f"element_at({x}, cast({parts[0]} as int))")
            elif len(parts) == 2:
                out.append(_slice(x, *parts))
            else:
                raise ValueError("no exact Spark form: "
                                 + _show(x + sql[m.start():end + 1], held))
            pos = end + 1
        elif name in _FORMS:
            end, args = _close(sql, pos - 1)
            out.append(_form(name, [_rewrite(a, held) for a in args], held))
            pos = end + 1
        else:
            # a FROM-list `unnest(x) as g(c)` joins laterally (always exact)
            if name == "unnest" and _TABLE_ALIAS.match(
                    sql, _close(sql, pos - 1)[0] + 1):
                out.append("lateral ")
            out.append(_RENAMES[name] + "(" if name in _RENAMES
                       else m.group(0))
    return "".join(out) + sql[pos:]


def _form(name: str, args: list[str], held: list[str]) -> str:
    lit = [(h := _HOLE.fullmatch(a.strip())) and held[int(h.group(1))]
           for a in args]
    n, joined = len(args), ",".join(args)
    # exact for a literal separator free of regex metacharacters
    if (name == "string_split" and n == 2 and lit[1]
            and not re.search(r"[.^$*+?()[\]{}|\\]", lit[1][1:-1])):
        return f"split({joined})"
    # exact from begin 1 (DuckDB's 3rd argument is an end, Spark's a length)
    if name == "list_slice" and n == 3 and args[1].strip() == "1":
        return f"slice({joined})"
    if name == "list_slice" and n == 3:
        return _slice(*(a.strip() for a in args))
    # with 'g' (else DuckDB replaces once), for patterns RE2 and Java read alike
    if name == "regexp_replace" and n == 4 and lit[3] == "'g'":
        return f"regexp_replace({','.join(args[:3])})"
    # always exact: Spark counts down for b < a, where DuckDB is empty
    if name == "generate_series" and n == 2:
        a, b = (x.strip() for x in args)
        return f"filter(sequence({a}, {b}), _gs -> _gs between {a} and {b})"
    # exact when the step runs from start toward stop (else Spark raises)
    if name == "generate_series" and n == 3:
        return f"sequence({joined})"
    # always: DuckDB's one-argument encode is UTF-8
    if name == "encode" and n == 1:
        return f"encode({joined}, 'UTF-8')"
    raise ValueError("no exact Spark form: "
                     + _show(f"{name}({joined})", held))


def _slice(x: str, a: str, b: str) -> str:
    """DuckDB's ``x[a:b]`` (``list_slice(x, a, b)``): exact where
    ``a >= 1`` and ``b >= a - 1``, and raises elsewhere (DuckDB reads a
    begin of 0 as 1 and counts a negative one from the end, and is
    empty where ``b < a - 1``, where Spark's length is negative)."""
    return (f"if(({a}) >= 1 and ({b}) >= ({a}) - 1, "
            f"slice({x}, {a}, ({b}) - ({a}) + 1), "
            f"raise_error('list_slice: begin below 1 or end below begin'))")


def _indexes(before: str) -> bool:
    """Whether a `[` after ``before`` indexes (or types) what precedes
    it, rather than open a list literal."""
    m = re.search(r"(\w+|[)\]\x00])\s*$", before)
    return bool(m) and m.group(1).lower() not in _KEYWORDS


def _operand(done: str, held: list[str]) -> int:
    """Where the operand that ends ``done`` starts: a dotted name, a
    call or a bracketed group. Raises ``ValueError`` for any other."""
    end = len(done.rstrip())
    if done[end - 1:end] == ")":
        depth = 0
        for i in range(end - 1, -1, -1):
            depth -= _DEPTH.get(done[i], 0)
            if depth == 0:
                return re.search(r"\w*$", done[:i]).start()
    elif m := re.search(r"(?<![\w.\x00])[a-z_][\w.]*$", done[:end], re.I):
        return m.start()
    raise ValueError("list index of an operand the rules cannot read: "
                     + _show(done[-20:], held))


def _close(sql: str, start: int,
           sep: re.Pattern = _COMMA) -> tuple[int, list[str]]:
    """Index of the bracket closing the one at ``start``, and the
    top-level pieces between them split at ``sep``, whitespace kept."""
    depth, parts, begin = 0, [], start + 1
    for i in range(start, len(sql)):
        depth += _DEPTH.get(sql[i], 0)
        if depth == 0:
            return i, parts + [sql[begin:i]]
        if depth == 1 and sep.match(sql, i):
            parts.append(sql[begin:i])
            begin = i + 1
    raise ValueError(f"unbalanced brackets: {sql[start:start + 40]!r}")


def _show(sql: str, held: list[str]) -> str:
    """``sql`` with its held literals and comments put back."""
    return _HOLE.sub(lambda m: held[int(m.group(1))], sql)


#: queries whose Spark text is ``to_spark`` of the oracle text
DERIVED = tuple("""
    q22_json_extract q27_text_tokens q28_text_stats q35_string_date
    q49_array_ops q50_gap_fill q53_array_hof q62_json_typed q63_ngram_jaccard
    q66_contamination q67_simhash_hamming q68_doc_chunks q70_tfidf
    q76_embed_quantize q77_content_hash_dedup q79_vocab_coverage
    q81_repetition_filter q84_winnow_fingerprint q92_sequence_pack
    q102_boilerplate_shingles q109_cohort_ltv q123_interval_union
    q124_time_to_convert q126_token_diversity q128_gini_concentration
    q131_dup_cluster_histogram q132_funnel_latency q134_cross_source_shingles
    q135_anomaly_mad_ts q137_source_mix_budget q141_split_contamination
    q142_vocab_growth q144_dedup_impact q145_substring_dedup
    q147_token_length_profile q148_benchmark_attribution q149_doc_stitching
    q153_provenance_dedup q154_bm25_topk q156_dedup_keepers
    q157_shingle_compressibility q160_lm_transition_score q163_selection_curve
    q166_arrival_regularity q168_asset_profile q170_payload_dedup
    q171_resource_allocation q172_dedup_threshold_curve q176_allpairs_jaccard
    q177_negative_sampling q179_source_overlap q183_mann_whitney
    q186_ks_statistic
""".split())

#: name -> Spark SQL the rule table cannot derive
HAND_WRITTEN: dict[str, str] = {
    # Langid kappa (q182): the shared prediction CTE in Spark
    # dialect, then the exact bigint kappa ratio.
    "q182_langid_kappa": LANGID_PRED_CTE_SPARKSQL + """,
        agg as (
          select source,
             cast(count(*) as bigint) as n_docs,
             cast(sum(case when lang = pred_lang then 1 else 0
                      end) as bigint) as n_agree,
             """ + ",\n             ".join(
        f"cast(sum(case when lang = '{l}' then 1 else 0 end)"
        f" as bigint) as r_{l},"
        f" cast(sum(case when pred_lang = '{l}' then 1 else 0"
        f" end) as bigint) as c_{l}"
        for l in ("en", "de", "es", "fr", "zh", "und")) + """
          from pred group by source)
        select source, n_docs, n_agree,
               cast(r_en*c_en + r_de*c_de + r_es*c_es + r_fr*c_fr
                    + r_zh*c_zh + r_und*c_und as bigint) as s_exp,
               case when n_docs*n_docs =
                         (r_en*c_en + r_de*c_de + r_es*c_es
                          + r_fr*c_fr + r_zh*c_zh + r_und*c_und)
                    then 0.0
                    else cast(round(cast(
                      cast(n_docs*n_agree
                           - (r_en*c_en + r_de*c_de + r_es*c_es
                              + r_fr*c_fr + r_zh*c_zh
                              + r_und*c_und) as double)
                      / cast(n_docs*n_docs
                           - (r_en*c_en + r_de*c_de + r_es*c_es
                              + r_fr*c_fr + r_zh*c_zh
                              + r_und*c_und) as double)
                      as decimal(28,10)), 6) as double) end
                 as kappa
        from agg order by source
    """,
    # Benford (q184): 3-arg regexp_extract (Spark requires the
    # group index).
    "q184_benford": """
        with counted as (
          select regexp_extract(
                   cast(cast(l_extendedprice as decimal(18,2))
                        as string), '[1-9]', 0) as digit,
                 cast(count(*) as bigint) as n
          from lineitem
          group by 1),
        nz as (select * from counted where digit <> ''),
        tot as (select cast(sum(n) as bigint) as total from nz),
        ref as (
          select * from (values
            (1, 0.301029995663981), (2, 0.176091259055681),
            (3, 0.124938736608300), (4, 0.096910013008056),
            (5, 0.079181246047625), (6, 0.066946789630613),
            (7, 0.057991946977687), (8, 0.051152522447381),
            (9, 0.045757490560675)) as t(digit, b))
        select cast(nz.digit as int) as digit, nz.n,
               cast(round(cast(cast(nz.n as double)
                    / cast(tot.total as double)
                    as decimal(28,10)), 6) as double) as share,
               cast(round(cast(ref.b as double), 6) as double)
                 as benford,
               cast(round(cast(cast(nz.n as double)
                    / cast(tot.total as double)
                    - cast(ref.b as double)
                    as decimal(28,10)), 6) as double) as delta
        from nz cross join tot
        join ref on ref.digit = cast(nz.digit as int)
        order by digit
    """,
    "q20_tumbling_window": """
        select w.start as win, event_type, count(*) as n,
               cast(round(sum(cast(value as decimal(28,3))), 2) as double)
                 as sum_val
        from (select window(ts, '1 hour') as w, event_type, value
              from events)
        group by w, event_type
        order by win, event_type
    """,
    "q29_knn_cosine": """
        with q as (
          select embedding as q_emb,
                 sqrt(aggregate(zip_with(cast(embedding as array<double>),
                                         cast(embedding as array<double>),
                                         (x, y) -> x * y),
                                cast(0 as double), (acc, x) -> acc + x))
                   as q_nrm,
                 vec_id as q_id
          from embeddings where vec_id = 0)
        select vec_id,
               round(aggregate(zip_with(cast(q.q_emb as array<double>),
                                        cast(e.embedding as array<double>),
                                        (x, y) -> x * y),
                               cast(0 as double), (acc, x) -> acc + x)
                     / (q.q_nrm *
                        sqrt(aggregate(zip_with(cast(e.embedding as array<double>),
                                                cast(e.embedding as array<double>),
                                                (x, y) -> x * y),
                                       cast(0 as double), (acc, x) -> acc + x))),
                     4) as cos_sim
        from embeddings e join q on e.vec_id <> q.q_id
        order by cos_sim desc, vec_id limit 10
    """,
    "q30_knn_label": """
        with q as (
          select vec_id as src, label as src_label,
                 cast(embedding as array<double>) as q_emb,
                 sqrt(aggregate(zip_with(cast(embedding as array<double>),
                                         cast(embedding as array<double>),
                                         (x, y) -> x * y),
                                cast(0 as double), (acc, x) -> acc + x))
                   as q_nrm
          from embeddings where vec_id < 20),
        sims as (
          select q.src, q.src_label, e.label as nbr_label, e.vec_id,
                 aggregate(zip_with(q.q_emb,
                                    cast(e.embedding as array<double>),
                                    (x, y) -> x * y),
                           cast(0 as double), (acc, x) -> acc + x)
                 / (q.q_nrm *
                    sqrt(aggregate(zip_with(cast(e.embedding as array<double>),
                                            cast(e.embedding as array<double>),
                                            (x, y) -> x * y),
                                   cast(0 as double), (acc, x) -> acc + x)))
                   as cs
          from embeddings e join q on e.vec_id <> q.src),
        ranked as (
          select src, src_label, nbr_label,
                 row_number() over (partition by src
                                    order by cs desc, vec_id) as rn
          from sims)
        select src, src_label, nbr_label, count(*) as votes
        from ranked where rn <= 5
        group by src, src_label, nbr_label
        order by src, votes desc, nbr_label
    """,
    "q31_asof_join": """
        select p.event_id, p.user_id, p.ts, c.ts as click_ts,
               round(c.value, 2) as click_val
        from (select event_id, user_id, ts from events
              where event_type = 'purchase') p
        join lateral (
          select c0.ts, c0.value from events c0
          where c0.event_type = 'click'
            and c0.user_id = p.user_id and c0.ts <= p.ts
          order by c0.ts desc limit 1) c
        order by p.event_id
    """,
    "q37_regex": """
        select c_mktsegment,
               count(case when c_name rlike '[0-9]{9}$' then 1 end)
                 as n_match,
               max(cast(regexp_extract(c_name, '([0-9]+)', 1) as bigint))
                 as max_id,
               min(regexp_replace(c_name, '[0-9]+', '#')) as min_masked
        from customer group by c_mktsegment order by c_mktsegment
    """,
    "q39_array_agg": """
        select n_name as nation,
               array_join(sort_array(collect_list(s_name)), ',')
                 as suppliers,
               count(*) as n_supp
        from supplier join nation on s_nationkey = n_nationkey
        group by n_name order by nation
    """,
    "q40_grouping_sets": """
        select coalesce(l_returnflag, 'ALL') as rf,
               coalesce(l_linestatus, 'ALL') as ls,
               cast(grouping(l_returnflag) * 2 + grouping(l_linestatus)
                    as bigint) as gid,
               count(*) as n, round(sum(l_quantity), 2) as sum_qty
        from lineitem
        group by grouping sets ((l_returnflag), (l_linestatus))
        order by rf, ls
    """,
    "q58_bigrams": """
        with t as (
          select doc_id, pos, tok
          from documents
          lateral view posexplode(split(lower(text), ' ')) as pos, tok)
        select concat(a.tok, ' ', b.tok) as bigram, count(*) as tf
        from t a join t b on a.doc_id = b.doc_id and b.pos = a.pos + 1
        where a.tok <> '' and b.tok <> ''
        group by bigram order by tf desc, bigram limit 15
    """,
    "q64_regex_tokens": """
        select lang, count(*) as n_docs,
               cast(sum(size(toks)) as bigint) as tot_tokens,
               cast(round(cast(avg(size(toks)) as decimal(28,8)), 4)
                 as double) as avg_tokens,
               cast(round(cast(avg(cast(size(array_distinct(toks))
                       as double) / cast(size(toks) as double))
                     as decimal(28,10)), 6) as double) as avg_uniq_ratio
        from (select lang,
                     regexp_extract_all(lower(text),
                       '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0) as toks
              from documents)
        group by lang order by lang
    """,
    "sliding_window_counts": """
        select win, event_type, cast(count(*) as bigint) as n
        from (
          select explode(sequence(
                   window(ts, '15 minutes').start - interval 45 minutes,
                   window(ts, '15 minutes').start,
                   interval 15 minutes)) as win,
                 event_type
          from events)
        group by win, event_type
        order by win, event_type
    """,
    "hypertable_rollup": """
        with ev as (select ts, event_type, value from events),
        finest as (
          select window(ts, '15 minutes').start as bucket, event_type,
                 count(*) as n,
                 sum(cast(value as decimal(28,4))) as sum_val_d
          from ev group by 1, 2)
        select granularity, bucket, event_type, n,
               cast(round(sum_val_d, 2) as double) as sum_val
        from (
          select '15 minutes' as granularity, bucket, event_type,
                 n, sum_val_d
          from finest
          union all
          select '1 hour', window(bucket, '1 hour').start, event_type,
                 cast(sum(n) as bigint), sum(sum_val_d)
          from finest group by 2, 3
          union all
          select '1 day', window(bucket, '1 day').start, event_type,
                 cast(sum(n) as bigint), sum(sum_val_d)
          from finest group by 2, 3)
        order by granularity, bucket, event_type
    """,
    "q71_quality_filter": """
        with pd as (
          select lang,
                 cast(size(ts) as bigint) as n_tok,
                 aggregate(ts, cast(0 as bigint),
                           (acc, t) -> acc + length(t)) as tok_chars,
                 cast(size(array_distinct(ts)) as bigint) as n_uniq
          from (select lang,
                       filter(split(lower(text), ' '), t -> t != '') as ts
                from documents)),
        pm as (select lang, n_tok,
                      cast(tok_chars as double) / cast(n_tok as double)
                        as mean_len,
                      cast(n_uniq as double) / cast(n_tok as double)
                        as uniq_ratio
               from pd)
        select lang, count(*) as n_docs,
               cast(sum(case when n_tok >= 5
                              and mean_len between 2.0 and 12.0
                              and uniq_ratio >= 0.3
                         then 1 else 0 end) as bigint) as n_pass,
               cast(round(cast(avg(mean_len) as decimal(28,8)), 4)
                 as double) as avg_mean_len,
               cast(round(cast(avg(uniq_ratio) as decimal(28,10)), 6)
                 as double) as avg_uniq_ratio
        from pm group by lang order by lang
    """,
    "q72_langid_confusion": """
        with sc as (
          select lang,
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
          from (select lang,
                   array_distinct(filter(split(lower(text), '\\\\s+'),
                                         t -> t != '')) as ts
                from documents))
        select lang, pred_lang, count(*) as n_docs from (
          select lang,
             case when greatest(s_en,s_de,s_es,s_fr,s_zh) = 0 then 'und'
                  when s_en = greatest(s_en,s_de,s_es,s_fr,s_zh)
                    then 'en'
                  when s_de = greatest(s_de,s_es,s_fr,s_zh) then 'de'
                  when s_es = greatest(s_es,s_fr,s_zh) then 'es'
                  when s_fr = greatest(s_fr,s_zh) then 'fr'
                  else 'zh' end as pred_lang
          from sc)
        group by lang, pred_lang order by lang, pred_lang
    """,
    "q74_minhash_vocab": """
        with tk as (select doc_id, explode(split(lower(text), ' ')) as tok
                    from documents),
        tkf as (select * from tk where tok != ''),
        vocab as (select tok,
                         cast(row_number() over (order by tok) as bigint)
                           as tid
                  from (select distinct tok from tkf)),
        j as (select doc_id, tid from tkf join vocab using (tok)
              where doc_id % 20 = 0)
        select doc_id,
               min((tid *  823731426 +  433494437) % 2147483647) as minh0,
               min((tid * 1500450271 +     700001) % 2147483647) as minh1,
               min((tid *  713002666 +    1046527) % 2147483647) as minh2,
               min((tid * 1119516366 +   16769023) % 2147483647) as minh3,
               min((tid * 1251695901 + 1073676287) % 2147483647) as minh4,
               min((tid * 1278945319 +  479001599) % 2147483647) as minh5,
               min((tid * 2038074743 +   87178291) % 2147483647) as minh6,
               min((tid * 1912602701 + 2147483629) % 2147483647) as minh7
        from j group by doc_id order by doc_id
    """,
    "q75_pmi_bigrams": """
        with tk as (select split(lower(text), ' ') as ts from documents),
        bgp as (select p.a as tok_a, p.b as tok_b from (
                  select explode(filter(transform(
                    slice(ts, 1, greatest(size(ts) - 1, 0)),
                    (x, i) -> struct(x as a,
                                     element_at(ts, i + 2) as b)),
                    p -> p.a != '' and p.b != '')) as p
                  from tk)),
        bg as (select tok_a, tok_b, count(*) as cab from bgp
               group by tok_a, tok_b),
        uni as (select tok, count(*) as c from (
                  select explode(split(lower(text), ' ')) as tok
                  from documents) where tok != '' group by tok),
        t as (select sum(cab) as t_big from bg)
        select bigram, n,
               cast(round(cast(ratio_raw as decimal(28,8)), 4)
                 as double) as pmi_ratio
        from (select concat(bg.tok_a, ' ', bg.tok_b) as bigram,
                     bg.cab as n,
                     (cast(bg.cab as double) * cast(t.t_big as double))
                     / (cast(ua.c as double) * cast(ub.c as double))
                       as ratio_raw
              from bg join uni ua on ua.tok = bg.tok_a
              join uni ub on ub.tok = bg.tok_b
              cross join t
              where bg.cab >= 5)
        order by ratio_raw desc, bigram limit 15
    """,
    "q82_cosine_pairs": """
        with q as (
          select vec_id as a, cast(embedding as array<double>) as a_emb,
                 sqrt(aggregate(zip_with(cast(embedding as array<double>),
                                         cast(embedding as array<double>),
                                         (x, y) -> x * y),
                                cast(0.0 as double),
                                (acc, x) -> acc + x)) as a_nrm
          from embeddings where vec_id % 25 = 0),
        c as (
          select vec_id as b, cast(embedding as array<double>) as e,
                 sqrt(aggregate(zip_with(cast(embedding as array<double>),
                                         cast(embedding as array<double>),
                                         (x, y) -> x * y),
                                cast(0.0 as double),
                                (acc, x) -> acc + x)) as b_nrm
          from embeddings)
        select a, b, round(cs, 4) as cos_sim from (
          select a, b,
                 aggregate(zip_with(a_emb, e, (x, y) -> x * y),
                           cast(0.0 as double), (acc, x) -> acc + x)
                 / (a_nrm * b_nrm) as cs
          from c join q on a < b)
        where cs >= 0.3
        order by a, b
    """,
    "q88_retention": """
        with f as (select user_id, date_trunc('week', min(ts)) as cohort
                   from events group by user_id),
        a as (select distinct user_id, date_trunc('week', ts) as wk
              from events),
        j as (select f.cohort,
                     cast(floor(datediff(a.wk, f.cohort) / 7) as bigint)
                       as week_n
              from a join f on f.user_id = a.user_id),
        cs as (select cohort, count(*) as cohort_size from f
               group by cohort)
        select j.cohort, week_n, count(*) as n_active,
               min(cohort_size) as cohort_size,
               cast(round(cast(cast(count(*) as double)
                       / cast(min(cohort_size) as double)
                     as decimal(28,10)), 6) as double) as retention
        from j join cs on cs.cohort = j.cohort
        group by j.cohort, week_n
        order by j.cohort, week_n
    """,
    "q93_minhash_bands": """
        with tk as (select doc_id,
                           explode(split(lower(text), ' ')) as tok
                    from documents),
        tkf as (select * from tk where tok != ''),
        vocab as (select tok,
                         cast(row_number() over (order by tok)
                           as bigint) as tid
                  from (select distinct tok from tkf)),
        j as (select doc_id, tid from tkf join vocab using (tok)),
        sig as (select doc_id,
                  min((tid *  823731426 +  433494437) % 2147483647)
                    as minh0,
                  min((tid * 1500450271 +     700001) % 2147483647)
                    as minh1,
                  min((tid *  713002666 +    1046527) % 2147483647)
                    as minh2,
                  min((tid * 1119516366 +   16769023) % 2147483647)
                    as minh3,
                  min((tid * 1251695901 + 1073676287) % 2147483647)
                    as minh4,
                  min((tid * 1278945319 +  479001599) % 2147483647)
                    as minh5,
                  min((tid * 2038074743 +   87178291) % 2147483647)
                    as minh6,
                  min((tid * 1912602701 + 2147483629) % 2147483647)
                    as minh7
                from j group by doc_id),
        bands as (
          select cast(0 as bigint) as band, minh0 as h1, minh1 as h2
          from sig
          union all select 1, minh2, minh3 from sig
          union all select 2, minh4, minh5 from sig
          union all select 3, minh6, minh7 from sig),
        sz as (select band, h1, h2, count(*) as s from bands
               group by 1, 2, 3)
        select band, count(*) as n_buckets,
               cast(sum(case when s > 1 then s else 0 end) as bigint)
                 as n_collide_docs,
               cast(sum(s * (s - 1)) div 2 as bigint)
                 as n_candidate_pairs
        from sz group by band order by band
    """,
    "q96_embedding_centroids": """
        select label, cast(dim as bigint) as dim, count(*) as n,
               cast(round(cast(avg(v) as decimal(28,8)), 6)
                 as double) as avg_comp
        from (select label,
                     posexplode(cast(embedding as array<double>))
                       as (dim, v)
              from embeddings)
        group by label, dim order by label, dim
    """,
    "q80_doc_embedding_join": """
        select doc_id, lang, label, n_chars,
               cast(size(filter(split(lower(text), ' '), t -> t != ''))
                 as bigint) as n_tokens,
               cast(round(cast(sqrt(aggregate(
                   zip_with(cast(embedding as array<double>),
                            cast(embedding as array<double>),
                            (x, y) -> x * y),
                   cast(0.0 as double), (acc, x) -> acc + x))
                 as decimal(28,8)), 6) as double) as l2_norm
        from documents d join embeddings e on d.doc_id = e.vec_id
        order by doc_id
    """,
    "q108_reorder_intervals": """
        with gaps as (
          select o_custkey,
                 cast(datediff(cast(o_orderdate as date),
                   cast(lag(o_orderdate) over (partition by o_custkey
                        order by o_orderdate, o_orderkey) as date))
                   as bigint) as gap_days
          from orders),
        g as (select * from gaps where gap_days is not null)
        select n_name, cast(count(*) as bigint) as n_gaps,
               cast(round(cast(cast(sum(gap_days) as double)
                    / cast(count(*) as double)
                    as decimal(28,10)), 4) as double) as avg_gap_days,
               max(gap_days) as max_gap_days
        from g join customer on c_custkey = o_custkey
              join nation on n_nationkey = c_nationkey
        group by n_name order by n_name
    """,
    "q127_asof_forward": """
        with c as (
          select event_id, user_id, ts from events
          where event_type = 'click'),
        p as (
          select user_id, ts, min(value) as value from events
          where event_type = 'purchase' group by user_id, ts),
        u as (
          select user_id, ts, 1 as side,
                 event_id, cast(null as timestamp) as pts,
                 cast(null as double) as pval
          from c
          union all
          select user_id, ts, 2 as side,
                 cast(null as bigint), ts, value
          from p),
        f as (
          select user_id, ts, side, event_id,
                 first_value(pts, true) over w as n_ts,
                 first_value(pval, true) over w as n_val
          from u
          window w as (partition by user_id order by ts, side
                       rows between current row
                       and unbounded following))
        select event_id, user_id, ts, n_ts as next_ts,
               n_val as next_val
        from f where side = 1 and n_ts is not null
        order by event_id
    """,
    "q133_chi_square": """
        with cells as (
          select c.c_mktsegment as rseg, o.o_orderpriority as cpri,
                 cast(count(*) as bigint) as o
          from orders o join customer c on o.o_custkey = c.c_custkey
          group by rseg, cpri),
        scored as (
          select o,
                 sum(o) over (partition by rseg) as r,
                 sum(o) over (partition by cpri) as c,
                 sum(o) over () as n,
                 size(collect_set(rseg) over ()) as nr,
                 size(collect_set(cpri) over ()) as nc
          from cells),
        terms as (
          select o, r, c, n, nr, nc,
                 cast((cast(o as double)
                       - cast(r as double) * cast(c as double)
                         / cast(n as double))
                      * (cast(o as double)
                         - cast(r as double) * cast(c as double)
                           / cast(n as double))
                      / (cast(r as double) * cast(c as double)
                         / cast(n as double))
                   as decimal(28,12)) as term
          from scored)
        select cast(min(n) as bigint) as n,
               cast((min(nr) - 1) * (min(nc) - 1) as bigint) as dof,
               cast(round(cast(cast(sum(term) as double)
                 as decimal(28,10)), 6) as double) as chi2,
               cast(round(cast(
                 sqrt(cast(sum(term) as double)
                      / (cast(min(n) as double)
                         * cast(least(min(nr) - 1, min(nc) - 1)
                                as double)))
                 as decimal(28,10)), 6) as double) as cramers_v
        from terms
    """,
    "q138_seasonal_dow": """
        with per as (
            select event_type,
                   cast(pmod(dayofweek(ts) + 5, 7) + 1 as bigint)
                     as isodow,
                   cast(count(*) as bigint) as cnt
            from events group by 1, 2)
        select event_type, isodow, cnt,
               cast(round(cast(
                    cast(cnt * 7 as double)
                    / cast(sum(cnt) over (partition by event_type)
                           as double)
                    as decimal(28,8)), 6) as double) as dow_index
        from per order by event_type, isodow
    """,
    "q143_seasonal_burst": """
        with per as (
            select event_type, date_trunc('hour', ts) as bucket,
                   cast(count(*) as bigint) as cnt
            from events group by 1, 2),
        tagged as (
            select event_type, bucket, cnt,
                   cast(pmod(dayofweek(bucket) + 5, 7) + 1 as bigint)
                     as isodow
            from per),
        st as (
            select event_type, isodow, bucket, cnt,
                   count(*) over (partition by event_type, isodow)
                     as n,
                   sum(cnt) over (partition by event_type, isodow)
                     as s,
                   sum(cnt * cnt) over (partition by event_type,
                                        isodow) as ss
            from tagged),
        sc as (
            select event_type, isodow, bucket, cnt,
                   cast(s as double) / cast(n as double) as mean,
                   cast(n * ss - s * s as double)
                   / cast(n * (n - 1) as double) as var
            from st where n >= 2)
        select event_type, isodow, bucket, cnt,
               cast(round(cast(mean as decimal(28,6)), 4) as double)
                 as stratum_mean,
               cast(round(cast(
                    (cast(cnt as double) - mean) / sqrt(var)
                    as decimal(28,6)), 4) as double) as z
        from sc
        where var > 0
          and (cast(cnt as double) - mean) / sqrt(var) > 2.0
        order by event_type, bucket
    """,
    "q146_pii_scan": """
        with planted as (
            select source,
                   concat(text,
                       case when doc_id % 7 = 0 then
                           concat(' contact user',
                                  cast(doc_id as string), '@example.com')
                       else '' end,
                       case when doc_id % 11 = 0 then
                           concat(' call +1-555-867-',
                                  lpad(cast(doc_id % 10000 as string),
                                       4, '0'))
                       else '' end,
                       case when doc_id % 13 = 0 then
                           concat(' from 10.',
                                  cast(doc_id % 256 as string), '.',
                                  cast(doc_id % 100 as string), '.',
                                  cast(doc_id % 250 + 1 as string))
                       else '' end) as text
            from documents),
        per_doc as (
            select source,
                   cast(size(regexp_extract_all(text,
                       '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\\\.[a-zA-Z]{2,}'
                       , 0)) as bigint) as e,
                   cast(size(regexp_extract_all(text,
                       '\\\\+[0-9]{1,2}[- ][0-9]{3}[- ][0-9]{3}[- ][0-9]{4}'
                       , 0)) as bigint) as p,
                   cast(size(regexp_extract_all(text,
                       '[0-9]{1,3}\\\\.[0-9]{1,3}\\\\.[0-9]{1,3}\\\\.[0-9]{1,3}'
                       , 0)) as bigint) as i
            from planted)
        select source,
               cast(count(*) as bigint) as n_docs,
               cast(sum(case when e + p + i > 0 then 1 else 0 end)
                    as bigint) as docs_with_pii,
               cast(sum(e) as bigint) as n_email,
               cast(sum(p) as bigint) as n_phone,
               cast(sum(i) as bigint) as n_ipv4,
               cast(round(cast(
                    cast(sum(case when e + p + i > 0 then 1 else 0 end)
                         as double)
                    / cast(count(*) as double)
                    as decimal(28,10)), 6) as double) as pii_doc_ratio
        from per_doc group by source order by source
    """,
    "q150_embedding_drift": """
        with ex as (
            select label, posexplode(embedding) as (dim, v)
            from embeddings),
        comp as (
            select label, dim,
                   cast(count(*) as bigint) as n_vecs,
                   cast(round(cast(avg(cast(v as double))
                        as decimal(28,8)), 6) as decimal(18,6)) as c
            from ex group by label, dim),
        gcent as (
            select dim,
                   cast(round(cast(avg(cast(v as double))
                        as decimal(28,8)), 6) as decimal(18,6)) as g
            from ex group by dim)
        select comp.label,
               cast(max(n_vecs) as bigint) as n_vecs,
               -- cast the DIFFERENCE down to decimal(18,6) before
               -- squaring: decimal(19,6)^2 needs 39 digits and Spark
               -- silently re-types it decimal(38,11), rounding away
               -- small drift; decimal(18,6)^2 = decimal(37,12) exact
               cast(round(cast(sqrt(cast(sum(
                    cast(cast(c - g as decimal(18,6))
                         * cast(c - g as decimal(18,6))
                         as decimal(38,12))
                    ) as double)) as decimal(28,10)), 6) as double)
                 as drift_l2
        from comp join gcent on comp.dim = gcent.dim
        group by comp.label order by comp.label
    """,
    # SemDeDup hash-cluster twin (q151): same greedy keep order as
    # operators/similarity.semantic_prune — "earlier in (csim asc,
    # vec_id asc)" becomes the self-join predicate; the pairwise
    # cosine is the identical dot/(nrm_x*nrm_y) sequential fold, so
    # the SQL door reproduces the DataFrame door bit-for-bit.
    "q151_hash_semantic_dedup": """
        with assigned as (
            select vec_id, cast(embedding as array<double>) as emb,
                   cast(vec_id % 16 as int) as cluster
            from embeddings),
        ex as (
            select cluster, posexplode(emb) as (dim, v) from assigned),
        comp as (
            select cluster, dim,
                   cast(round(cast(avg(v) as decimal(28,8)), 6)
                     as double) as c
            from ex group by cluster, dim),
        cent as (
            select cluster,
                   transform(array_sort(collect_list(struct(dim, c))),
                             x -> x.c) as cvec
            from comp group by cluster),
        scored as (
            select a.vec_id, a.cluster, a.emb,
                   sqrt(aggregate(zip_with(a.emb, a.emb,
                                           (x, y) -> x * y),
                                  cast(0 as double),
                                  (acc, p) -> acc + p)) as nrm,
                   aggregate(zip_with(a.emb, c.cvec, (x, y) -> x * y),
                             cast(0 as double), (acc, p) -> acc + p)
                   / (sqrt(aggregate(zip_with(a.emb, a.emb,
                                              (x, y) -> x * y),
                                     cast(0 as double),
                                     (acc, p) -> acc + p))
                      * sqrt(aggregate(zip_with(c.cvec, c.cvec,
                                                (x, y) -> x * y),
                                       cast(0 as double),
                                       (acc, p) -> acc + p))) as csim
            from assigned a join cent c on a.cluster = c.cluster),
        agg as (
            select x.vec_id, x.cluster, x.csim,
                   count(case when
                         aggregate(zip_with(x.emb, y.emb,
                                            (p, q) -> p * q),
                                   cast(0 as double),
                                   (acc, p) -> acc + p)
                           / (x.nrm * y.nrm) >= 0.3D
                         then 1 end) as nd
            from scored x left join scored y
              on y.cluster = x.cluster
             and (y.csim < x.csim
                  or (y.csim = x.csim and y.vec_id < x.vec_id))
            group by x.vec_id, x.cluster, x.csim)
        select vec_id,
               cast(cluster as bigint) as cluster,
               cast(round(cast(csim as decimal(28,10)), 6) as double)
                 as centroid_sim,
               cast(nd as bigint) as n_earlier_dups,
               cast(case when nd = 0 then 1 else 0 end as bigint)
                 as kept
        from agg order by vec_id
    """,
    # Tokenizer fertility twin (q152): same planted version/rank
    # suffix, Spark HOF spellings of the word/token counts.
    "q152_tokenizer_fertility": """
        with rich as (
            select source,
                   concat(text, ' v', cast(doc_id % 10 as string),
                          '.', cast(doc_id % 7 as string), ' rank#',
                          cast(doc_id % 100 as string), '!') as text
            from documents),
        per_doc as (
            select source,
                   cast(length(text) as bigint) as n_chars,
                   cast(size(filter(split(lower(text), ' '),
                        x -> x != '')) as bigint) as n_words,
                   cast(size(regexp_extract_all(lower(text),
                        '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)) as bigint)
                     as n_tokens
            from rich)
        select source,
               cast(count(*) as bigint) as n_docs,
               cast(sum(n_chars) as bigint) as total_chars,
               cast(sum(n_words) as bigint) as total_words,
               cast(sum(n_tokens) as bigint) as total_tokens,
               cast(round(cast(cast(sum(n_tokens) as double)
                    / cast(sum(n_words) as double)
                    as decimal(28,10)), 6) as double)
                 as tokens_per_word,
               cast(round(cast(cast(sum(n_tokens) as double)
                    / cast(sum(n_chars) as double)
                    as decimal(28,10)), 6) as double)
                 as tokens_per_char
        from per_doc group by source order by source
    """,
    # Gopher-rule attribution (q162): Spark HOF spellings of the four
    # exact-integer rules.
    "q162_gopher_rules": """
        with planted as (
            select source,
                   case when doc_id % 29 = 0
                        then concat('zzq', cast(doc_id % 13 as string),
                                    ' qxv wvx zzq kjq pqz mvz nbq')
                        when doc_id % 23 = 0
                        then concat(text, ' ## -- !! ##')
                        else text end as text
            from documents),
        feat as (
            select source,
                   cast(size(toks) as bigint) as n_words,
                   aggregate(toks, cast(0 as bigint),
                             (acc, t) -> acc + length(t)) as sum_len,
                   cast(size(filter(toks,
                        t -> t rlike '^[^a-z0-9]+$')) as bigint)
                     as n_symbol,
                   cast(size(array_intersect(toks,
                        array('the','a','of','and','with','that',
                              'to','be'))) as bigint) as n_stop
            from (select source,
                         filter(split(lower(text), ' '), t -> t != '')
                           as toks
                  from planted)),
        flags as (
            select source,
                   (n_words < 20 or n_words > 1000) as f_wc,
                   (sum_len < 3 * n_words
                    or sum_len > 10 * n_words) as f_ml,
                   (n_symbol * 100 > 10 * n_words) as f_sym,
                   (n_stop < 2) as f_stop
            from feat)
        select source,
               cast(count(*) as bigint) as n_docs,
               cast(sum(case when f_wc then 1 else 0 end) as bigint)
                 as n_fail_wordcount,
               cast(sum(case when f_ml then 1 else 0 end) as bigint)
                 as n_fail_meanlen,
               cast(sum(case when f_sym then 1 else 0 end) as bigint)
                 as n_fail_symbol,
               cast(sum(case when f_stop then 1 else 0 end) as bigint)
                 as n_fail_stopword,
               cast(sum(case when f_wc or f_ml or f_sym or f_stop
                             then 1 else 0 end) as bigint)
                 as n_fail_any,
               cast(sum(case when
                    (case when f_wc then 1 else 0 end)
                    + (case when f_ml then 1 else 0 end)
                    + (case when f_sym then 1 else 0 end)
                    + (case when f_stop then 1 else 0 end) >= 2
                    then 1 else 0 end) as bigint) as n_fail_multi,
               cast(round(cast(
                    cast(sum(case when f_wc or f_ml or f_sym or f_stop
                                  then 1 else 0 end) as double)
                    / cast(count(*) as double)
                    as decimal(28,10)), 6) as double) as reject_ratio
        from flags group by source order by source
    """,
    # Bounded temporal reach (q158): Spark datediff(end, start)
    # spelling of DuckDB's 3-arg date_diff('day', ...).
    "q158_temporal_reach2": """
        with base as (
            select distinct o_custkey as cust, l_suppkey as supp,
                   cast(datediff(cast(o_orderdate as date),
                                 date '1970-01-01') as double) as ts
            from orders join lineitem on o_orderkey = l_orderkey),
        edges as (
            select cust as src, supp + 1000000 as dst, ts from base
            union all
            select supp + 1000000 as src, cust as dst, ts from base),
        src as (
            select distinct o_custkey as id from orders
            where o_custkey % 200 = 0),
        h1 as (
            select e.dst as id, min(e.ts) as arr
            from edges e join src s on e.src = s.id
            group by e.dst),
        h2 as (
            select e.dst as id, min(e.ts) as arr
            from edges e join h1 on e.src = h1.id
                                and e.ts >= h1.arr
            group by e.dst),
        allh as (
            select * from h1 union all select * from h2)
        select id, cast(min(arr) as double) as arrival_day
        from allh group by id order by id
    """,
    # Vector hygiene (q169): Spark HOF spellings; same fold order.
    # NULL vectors are their own defect class (ADVICE r12).
    "q169_vector_hygiene": """
        with planted as (
            select label,
                   case when vec_id % 17 = 0
                        then transform(cast(embedding
                             as array<double>), x -> cast(0.0
                             as double))
                        when vec_id % 23 = 0
                        then cast(slice(embedding, 1, 32)
                             as array<double>)
                        when vec_id % 29 = 0
                        then transform(cast(embedding
                             as array<double>),
                             (x, i) -> case when i = 0
                                       then cast('NaN' as double)
                                       else x end)
                        when vec_id % 31 = 0
                        then cast(NULL as array<double>)
                        else cast(embedding as array<double>) end as e
            from embeddings),
        feat as (
            select label,
                   (e is null) as f_null,
                   (e is not null and size(e) <> 64) as f_dim,
                   (e is not null
                    and size(filter(e, x -> isnan(x)
                                    or abs(x) = cast('Infinity'
                                                 as double))) > 0)
                     as f_fin,
                   aggregate(zip_with(e, e, (x, y) -> x * y),
                             cast(0.0 as double),
                             (acc, x) -> acc + x) as n2
            from planted),
        flagged as (
            select label, f_null, f_dim, f_fin,
                   (not f_null and not f_dim and not f_fin
                    and n2 = 0.0) as f_zero,
                   case when not f_null and not f_dim and not f_fin
                             and n2 > 0.0
                        then n2 end as h_n2
            from feat)
        select label,
               cast(count(*) as bigint) as n_vecs,
               cast(sum(case when f_null then 1 else 0 end)
                 as bigint) as n_null,
               cast(sum(case when f_dim then 1 else 0 end) as bigint)
                 as n_bad_dim,
               cast(sum(case when f_fin then 1 else 0 end) as bigint)
                 as n_nonfinite,
               cast(sum(case when f_zero then 1 else 0 end)
                 as bigint) as n_zero,
               cast(round(cast(min(h_n2) as decimal(28,8)), 6)
                 as double) as min_norm2,
               cast(round(cast(max(h_n2) as decimal(28,8)), 6)
                 as double) as max_norm2
        from flagged group by label order by label
    """,
    # Portable text profile (oracled r13): Spark-dialect spelling of
    # the SHARED per-doc CTE chain (sql_fragments.py).
    "text_profile": TEXT_PROFILE_CTES_SPARKSQL + """
        select doc_id, lang_detected,
               n_tokens_ws, n_tokens_bpe, quality, fingerprint
        from prof order by doc_id
    """,
    "text_quality_report": TEXT_PROFILE_CTES_SPARKSQL + """
        select source,
               cast(count(*) as bigint) as n_docs,
               cast(round(cast(avg(quality) as decimal(28,8)), 4)
                 as double) as avg_quality,
               cast(round(cast(avg(n_tokens_bpe) as decimal(28,6)), 2)
                 as double) as avg_tokens_bpe,
               cast(count(distinct lang_detected) as bigint)
                 as n_langs,
               cast(count(distinct fingerprint) as bigint)
                 as n_distinct_fp
        from prof group by source order by source
    """,
    # Per-dim embedding profile (q173): posexplode ordinality in the
    # Spark dialect; same decimal sums and IEEE operand order.
    "q173_embedding_dim_profile": """
        with px as (
            select d, cast(x as double) as x
            from embeddings
            lateral view posexplode(embedding) t as d, x),
        agg as (
            select d, cast(count(*) as bigint) as n,
                   cast(sum(cast(x as decimal(28,12))) as double)
                     as sx,
                   cast(sum(cast(x * x as decimal(28,16))) as double)
                     as sxx,
                   min(x) as vmin_raw, max(x) as vmax_raw
            from px group by d)
        select cast(d as int) as dim, n,
               cast(round(cast(sx / cast(n as double)
                    as decimal(28,10)), 6) as double) as mean,
               cast(round(cast(
                    (sxx - sx * sx / cast(n as double))
                    / cast(n as double)
                    as decimal(28,12)), 8) as double) as var,
               cast(round(cast(vmin_raw as decimal(28,10)), 6)
                 as double) as vmin,
               cast(round(cast(vmax_raw as decimal(28,10)), 6)
                 as double) as vmax,
               cast(round(cast(
                    (vmax_raw - vmin_raw) / cast(255.0 as double)
                    as decimal(28,12)), 8) as double) as int8_scale
        from agg order by dim
    """,
}

#: name -> Spark SQL (run over the Engine's registered temp views)
SPARK_SQL: dict[str, str] = {
    **{n: to_spark(oracle_sql()[n]) for n in DERIVED}, **HAND_WRITTEN}
