"""Text-analysis operators for training-data pipelines.

All pure pyspark.sql.functions (codegen'd, no UDFs) so each has an
exact ANSI-SQL oracle:

- token_count:      whitespace tokens + a BPE-ish subword estimate
- quality_score:    length / punctuation / stopword-ratio heuristics
- lang_id:          n-gram/stopword-hit heuristic over a tiny lexicon
- fingerprint:      order-invariant document fingerprint (content hash)
- bm25_search:      Robertson BM25 top-k scored retrieval (postings via
                    explode, broadcast corpus stats, one score shuffle)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .common import local_frame

_WS = r"\s+"

# minimal stopword lexicons for the heuristic language scorer
LANG_LEXICON = {
    "en": ["the", "and", "of", "to", "a"],
    "de": ["der", "die", "und", "das", "ein"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "que", "los", "una"],
}


def _tokens(text_col):
    return F.split(F.trim(text_col), _WS)


def token_count(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                tokenizer=None) -> DataFrame:
    """(id, n_tokens, n_chars, n_subwords): whitespace tokens plus a
    BPE-ish estimate (ceil(chars/4) per token, the common ~4 chars/token
    rule) — both exactly expressible in SQL for the oracle.

    Pass ``tokenizer`` (a tokenize.BPETokenizer) for tokenizer-TRUE
    accounting: n_tokens and n_subwords both become the real BPE token
    count (broadcast merge table, Arrow-vectorized, map-side)."""
    if tokenizer is not None:
        from .tokenize import bpe_token_count_col

        cnt = bpe_token_count_col(df, tokenizer, text_col)
        return df.select(
            F.col(id_col),
            cnt.alias("n_tokens"),
            F.length(F.col(text_col)).cast("long").alias("n_chars"),
            cnt.alias("n_subwords"),
        )
    toks = _tokens(F.col(text_col))
    n_tokens = F.when(F.length(F.trim(F.col(text_col))) == 0, F.lit(0)).otherwise(
        F.size(toks)
    )
    subwords = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: acc + F.ceil(F.length(t) / F.lit(4.0)),
    )
    return df.select(
        F.col(id_col),
        n_tokens.cast("long").alias("n_tokens"),
        F.length(F.col(text_col)).cast("long").alias("n_chars"),
        subwords.alias("n_subwords"),
    )


def quality_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic quality features + composite score in [0,1]:
    - len_score: min(n_tokens/100, 1)
    - punct_ratio: punctuation chars / chars
    - stop_ratio: stopword tokens / tokens (en lexicon)
    - mean_tok_len
    score = 0.4*len + 0.3*(1-punct) + 0.3*min(stop*5, 1)
    """
    toks = _tokens(F.col(text_col))
    n_tok = F.size(toks).cast("double")
    n_chars = F.length(F.col(text_col)).cast("double")
    punct = F.length(F.regexp_replace(F.col(text_col), r"[^.,;:!?'\"()\[\]{}]", "")).cast("double")
    stops = F.size(F.filter(toks, lambda t: t.isin(*LANG_LEXICON["en"]))).cast("double")
    len_score = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    punct_ratio = F.when(n_chars > 0, punct / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tok > 0, stops / n_tok).otherwise(F.lit(0.0))
    mean_tok = F.when(n_tok > 0, (n_chars - (n_tok - 1)) / n_tok).otherwise(F.lit(0.0))
    score = (
        F.lit(0.4) * len_score
        + F.lit(0.3) * (F.lit(1.0) - punct_ratio)
        + F.lit(0.3) * F.least(stop_ratio * 5, F.lit(1.0))
    )
    return df.select(
        F.col(id_col),
        F.round(len_score, 6).alias("len_score"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(mean_tok, 6).alias("mean_tok_len"),
        F.round(score, 6).alias("quality"),
    )


# PII patterns shared with the oracle: Java-regex AND RE2 compatible
# (no lookaround/backrefs), so the same pattern string runs in Spark's
# regexp_replace and DuckDB's (with the 'g' flag there).
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "ssn": (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    "ip": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    "phone": (r"\+?\d[\d\- ]{7,}\d", "<PHONE>"),
}


def scrub_pii(df: DataFrame, text_col: str = "text",
              kinds: tuple[str, ...] = ("email", "ssn", "ip", "phone"),
              out_col: str | None = None) -> DataFrame:
    """Replace PII spans with typed placeholder tokens — the scrubbing
    pass every published-corpus pipeline runs. Chained regexp_replace:
    pure codegen, map-side, no shuffle; order matters (SSN/IP before
    the broader phone pattern) and follows ``kinds``."""
    col = F.col(text_col)
    for k in kinds:
        pat, repl = PII_PATTERNS[k]
        col = F.regexp_replace(col, pat, repl)
    return df.withColumn(out_col or text_col, col)


def repetition_score(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """(id, n_tokens, n_distinct, repetition): word-level repetition
    ratio 1 - distinct/total — the cheap boilerplate/spam signal
    (high = template or keyword-stuffed text). Map-side only."""
    toks = _tokens(F.col(text_col))
    empty = F.length(F.trim(F.col(text_col))) == 0  # split('') -> ['']
    n_tok = F.when(empty, F.lit(0.0)).otherwise(F.size(toks).cast("double"))
    n_dis = F.when(empty, F.lit(0.0)).otherwise(
        F.size(F.array_distinct(toks)).cast("double"))
    rep = F.when(n_tok > 0, F.lit(1.0) - n_dis / n_tok).otherwise(F.lit(0.0))
    return df.select(
        F.col(id_col),
        n_tok.cast("long").alias("n_tokens"),
        n_dis.cast("long").alias("n_distinct"),
        F.round(rep, 6).alias("repetition"),
    )


def _char_ngrams(text_col, n: int = 3):
    """array<string> of overlapping lowercased character n-grams —
    whitespace-collapsed first so formatting doesn't shift grams.
    Empty array when the text is shorter than n. One SQL expression
    (codegen, map-side); the identical arithmetic is expressible in
    DuckDB (substr + range) for oracles.

    The normalized string is BOUND ONCE per row as a lambda variable
    (a 1-element transform): Catalyst does not common-subexpression-
    eliminate through higher-order-function lambdas, so inlining the
    trim(regexp_replace(lower(...))) into the per-gram substring
    re-ran the regex once per OUTPUT GRAM — measured 6.6x slower on
    a 640-char-per-doc corpus (r11)."""
    name = text_col if isinstance(text_col, str) else text_col._jc.toString()
    norm = f"trim(regexp_replace(lower({name}), '\\\\s+', ' '))"
    return F.expr(
        f"transform(array({norm}), _t -> "
        f"CASE WHEN length(_t) >= {n} THEN transform(sequence(1, "
        f"length(_t) - {n - 1}), i -> substring(_t, i, {n})) "
        f"ELSE array() END)[0]"
    )


def lang_ngram_model(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    n: int = 3,
    smoothing: float = 0.5,
) -> DataFrame:
    """(lang, gram, logprob, unseen_logprob): a character-n-gram
    naive-Bayes language model trained from a LABELED corpus — the
    real classifier behind lang_id(model=...), replacing the stopword
    heuristic. Per language:
        p(g | lang) = (count(g, lang) + s) / (total(lang) + s*|V|)
    with |V| the cross-language gram vocabulary; ``unseen_logprob`` is
    the same formula at count 0, denormalized onto every row so
    scoring needs no second frame. Only observed (lang, gram) rows
    materialize. One map-side-combined groupBy over exploded grams +
    a lang-marginal + a 1x1 vocab frame — the lm_unigram_model shape;
    the model is small by nature (<= |langs| * |gram space|) and
    broadcasts."""
    grams = df.select(
        F.col(lang_col).alias("lang"),
        F.explode(_char_ngrams(text_col, n)).alias("gram"),
    )
    counts = grams.groupBy("lang", "gram").agg(F.count(F.lit(1)).alias("_c"))
    totals = counts.groupBy("lang").agg(F.sum("_c").alias("_tot"))
    vocab = counts.agg(F.count_distinct("gram").alias("_v"))
    return (
        counts.join(totals, "lang")
        .crossJoin(F.broadcast(vocab))
        .select(
            "lang", "gram",
            F.log((F.col("_c") + F.lit(smoothing))
                  / (F.col("_tot") + F.lit(smoothing) * F.col("_v")))
            .alias("logprob"),
            F.log(F.lit(smoothing)
                  / (F.col("_tot") + F.lit(smoothing) * F.col("_v")))
            .alias("unseen_logprob"),
        )
    )


def _nb_label_scores(df: DataFrame, model: DataFrame, text_col: str,
                     id_col: str, n: int) -> DataFrame:
    """Shared naive-Bayes scoring core for lang_id(model=) and
    nb_quality_classifier: per (doc, label), matched grams contribute
    their trained logprob and unmatched grams the label's
    unseen_logprob (scores comparable across labels). Returns
    (id, lang, _ng, _score, _cov). The model BROADCASTS; the corpus
    explodes to (doc, gram) once, one groupBy, one |labels|-wide
    crossJoin — no corpus-sized join shuffles twice."""
    m = F.broadcast(model.select("lang", "gram", "logprob",
                                 "unseen_logprob"))
    langs = F.broadcast(
        model.select("lang", "unseen_logprob").distinct())
    docs = df.select(
        F.col(id_col),
        F.size(_char_ngrams(text_col, n)).cast("double").alias("_ng"),
    )
    grams = df.select(
        F.col(id_col),
        F.explode(_char_ngrams(text_col, n)).alias("gram"),
    )
    matched = (
        grams.join(m, "gram")
        .groupBy(id_col, "lang")
        .agg(F.sum("logprob").alias("_ms"),
             F.count(F.lit(1)).cast("double").alias("_mc"))
    )
    return (
        docs.crossJoin(langs)
        .join(matched, [id_col, "lang"], "left")
        .select(
            F.col(id_col), "lang", "_ng",
            (F.coalesce(F.col("_ms"), F.lit(0.0))
             + (F.col("_ng") - F.coalesce(F.col("_mc"), F.lit(0.0)))
             * F.col("unseen_logprob")).alias("_score"),
            (F.coalesce(F.col("_mc"), F.lit(0.0))
             / F.greatest(F.col("_ng"), F.lit(1.0))).alias("_cov"),
        )
    )


def nb_quality_classifier(
    df: DataFrame,
    model: DataFrame,
    pos_label: str = "good",
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.0,
) -> DataFrame:
    """Model-based quality filtering (the CCNet / LLaMA recipe: keep
    pages a classifier scores as reference-like): a BINARY char-n-gram
    naive-Bayes classifier over a two-label lang_ngram_model — train
    with lang_ngram_model on a labeled frame whose 'lang' column is
    {pos_label, <other>} (e.g. reference text vs crawl noise), then
    score any corpus map-side with the broadcast model.

    Returns (id, log_odds, quality_pass): log_odds = score(pos) -
    score(neg) under the shared matched+unseen NB scoring (docs with
    no grams score 0.0 and fail), quality_pass = log_odds > threshold.
    Deterministic and fully SQL-expressible (the oracle can recompute
    the model — the lm_quality_score discipline); discrete outputs
    (pass/fail) are additionally closed-form on planted corpora.
    """
    labels = [r["lang"] for r in
              model.select("lang").distinct().collect()]
    if len(labels) != 2 or pos_label not in labels:
        raise ValueError(
            f"nb_quality_classifier needs a 2-label model containing "
            f"pos_label={pos_label!r}; model has {sorted(labels)}")
    neg_label = next(lb for lb in labels if lb != pos_label)
    scored = _nb_label_scores(df, model, text_col, id_col, n)
    pos = scored.filter(F.col("lang") == pos_label).select(
        F.col(id_col), F.col("_ng"), F.col("_score").alias("_sp"))
    neg = scored.filter(F.col("lang") == neg_label).select(
        F.col(id_col), F.col("_score").alias("_sn"))
    lo = F.when(F.col("_ng") > 0,
                F.col("_sp") - F.col("_sn")).otherwise(F.lit(0.0))
    return (
        pos.join(neg, id_col)
        .select(
            F.col(id_col),
            F.round(lo, 6).alias("log_odds"),
            (lo > F.lit(threshold)).alias("quality_pass"),
        )
    )


def lang_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            model: DataFrame | None = None, n: int = 3,
            min_coverage: float = 0.2) -> DataFrame:
    """Language identification.

    With ``model`` (a lang_ngram_model frame — the REAL path): per
    document, score every language as the naive-Bayes log-likelihood
    of its character n-grams — matched grams contribute their trained
    logprob, unmatched grams the language's unseen_logprob, so scores
    are comparable across languages (a sparse match can't win by
    summing fewer penalties). Winner = max score, ties broken on lang
    ascending; documents whose winning language matched fewer than
    ``min_coverage`` of their grams — out-of-set languages, noise —
    and documents with no grams at all (shorter than n chars) return
    'und'. Returns (id, lang_guess, coverage). Distributed shape: the
    model BROADCASTS; the corpus explodes to (doc, gram) once, one
    groupBy to per-(doc, lang) sums, one |langs|-wide window — no
    corpus-sized join ever shuffles twice.

    Without ``model``: the legacy stopword-hit heuristic over
    LANG_LEXICON (kept as the zero-setup fallback; 'und' when no
    lexicon scores > 0; deterministic ties by lexicon order). Returns
    (id, lang_guess, lang_hits).
    """
    if model is not None:
        if not 0.0 <= min_coverage <= 1.0:
            raise ValueError(
                f"min_coverage must be in [0, 1], got {min_coverage}")
        scored = _nb_label_scores(df, model, text_col, id_col, n)
        from pyspark.sql import Window

        w = Window.partitionBy(id_col).orderBy(
            F.col("_score").desc(), F.col("lang").asc())
        best = (
            scored.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .select(
                F.col(id_col),
                F.when((F.col("_ng") > 0)
                       & (F.col("_cov") >= F.lit(min_coverage)),
                       F.col("lang")).otherwise(F.lit("und"))
                .alias("lang_guess"),
                F.round(F.when(F.col("_ng") > 0, F.col("_cov"))
                        .otherwise(F.lit(0.0)), 6).alias("coverage"),
            )
        )
        # documents can never drop out: every doc row survives the
        # crossJoin with the (non-empty) language frame
        return best
    toks = _tokens(F.lower(F.col(text_col)))
    scores = []
    for lang, words in LANG_LEXICON.items():
        scores.append(
            F.size(F.filter(toks, lambda t: t.isin(*words))).alias(f"_s_{lang}")
        )
    tmp = df.select(F.col(id_col), F.col(text_col), *scores)
    best = F.lit("und")
    best_score = F.lit(0)
    for lang in LANG_LEXICON:  # first-wins on ties via strict >
        cond = F.col(f"_s_{lang}") > best_score
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_score = F.when(cond, F.col(f"_s_{lang}")).otherwise(best_score)
    return tmp.select(
        F.col(id_col),
        best.alias("lang_guess"),
        best_score.cast("long").alias("lang_hits"),
    )


# per-language common-word inventories for synth_multilingual — public
# high-frequency words, overlapping alphabets (discrimination must come
# from n-gram statistics, not from disjoint character sets)
_SYNTH_LANG_WORDS = {
    "en": ["the", "and", "of", "to", "that", "have", "with", "this",
           "from", "they", "would", "there", "their", "what", "about",
           "which", "when", "people", "because", "through", "where",
           "thought", "should", "world", "right"],
    "de": ["der", "die", "und", "das", "nicht", "sie", "mit", "sich",
           "auf", "auch", "eine", "werden", "noch", "wenn", "aber",
           "durch", "schon", "gegen", "immer", "zwischen", "wieder",
           "unter", "machen", "jahren", "menschen"],
    "fr": ["les", "des", "une", "dans", "est", "pour", "qui", "pas",
           "sur", "plus", "par", "avec", "tout", "faire", "comme",
           "mais", "nous", "vous", "leur", "bien", "aussi", "cette",
           "sans", "peut", "deux"],
    "es": ["que", "los", "del", "las", "una", "por", "con", "para",
           "como", "pero", "sus", "fue", "ser", "son", "entre", "cuando",
           "todo", "esta", "hay", "donde", "quien", "desde", "nos",
           "durante", "todos"],
    "it": ["che", "della", "per", "una", "sono", "anche", "come", "dal",
           "questo", "quando", "essere", "fatto", "loro", "perche",
           "molto", "senza", "dopo", "ancora", "stato", "solo", "tutti",
           "cosa", "nella", "prima", "tempo"],
    "pt": ["que", "uma", "com", "para", "mais", "dos", "como", "mas",
           "foi", "ser", "tem", "seu", "sua", "quando", "muito", "nos",
           "depois", "mesmo", "sem", "ainda", "entre", "grande", "bem",
           "pelo", "anos"],
    # r9 breadth (VERDICT r8 ask #6): 13 languages incl. a Cyrillic
    # script, two non-space-delimited CJK scripts, and the es/pt
    # confusable pair above
    "nl": ["de", "het", "een", "van", "dat", "niet", "zijn", "met",
           "voor", "maar", "ook", "als", "dan", "nog", "wordt", "naar",
           "door", "over", "bij", "uit", "worden", "deze", "veel",
           "onze", "tegen"],
    "sv": ["och", "att", "det", "som", "en", "av", "för", "på", "är",
           "med", "den", "till", "inte", "har", "om", "ett", "men",
           "sig", "kan", "också", "efter", "eller", "vid", "mycket",
           "genom"],
    "pl": ["nie", "się", "jest", "na", "do", "że", "jak", "ale", "po",
           "co", "tak", "jego", "przez", "tylko", "być", "która",
           "bardzo", "już", "może", "przy", "czy", "które", "ich",
           "będzie", "oraz"],
    "tr": ["bir", "ve", "bu", "için", "ile", "olarak", "daha", "çok",
           "gibi", "ancak", "sonra", "kadar", "olan", "her", "ama",
           "değil", "ise", "bütün", "üzerine", "aynı", "hem", "göre",
           "yeni", "zaman", "kendi"],
    "ru": ["что", "это", "как", "его", "она", "так", "был", "все",
           "они", "только", "меня", "было", "когда", "даже", "уже",
           "если", "или", "себя", "ничего", "может", "этот", "чтобы",
           "здесь", "потом", "очень"],
    "ja": ["これ", "それ", "です", "ます", "した", "いる", "ある",
           "こと", "もの", "ため", "よう", "から", "まで", "など",
           "について", "という", "されて", "している", "ていた",
           "になる", "による", "として", "たち", "ながら", "けれど"],
    "zh": ["的", "是", "了", "在", "有", "我们", "他们", "这个",
           "可以", "没有", "自己", "什么", "时候", "知道", "现在",
           "因为", "所以", "但是", "如果", "就是", "还是", "已经",
           "一个", "问题", "工作"],
}

# non-space-delimited scripts: synth docs concatenate WITHOUT spaces
# (the real-world CJK tokenizer trap char n-grams sidestep)
_SYNTH_NOSPACE = {"ja", "zh"}


def synth_multilingual(spark, n_docs: int, words_per_doc: int = 30,
                       langs: tuple[str, ...] = tuple(_SYNTH_LANG_WORDS),
                       salt: int = 0):
    """(doc_id, lang, text): a deterministic synthetic multilingual
    corpus — doc i is in langs[i % |langs|] and concatenates
    ``words_per_doc`` words drawn from that language's common-word
    inventory by the Knuth multiplicative hash
    ((i * W + j + salt) * 2654435761) mod 2^32 (no RNG state; the
    synth_html discipline). The Latin-script inventories deliberately
    share an alphabet, so the trained model must discriminate on gram
    STATISTICS; _SYNTH_NOSPACE languages (CJK) concatenate WITHOUT
    spaces — the non-space-delimited regime a word tokenizer can't
    handle but char n-grams can. Built as one SQL expression over
    spark.range — no driver-side corpus."""
    inv = {k: _SYNTH_LANG_WORDS[k] for k in langs}
    lang_arms = " ".join(
        f"WHEN {i} THEN '{k}'" for i, k in enumerate(langs))
    word_arms = " ".join(
        "WHEN '{k}' THEN element_at(array({ws}), "
        "CAST((((doc_id * {W} + j + {salt}) * 2654435761) % 4294967296) "
        "% {n} AS INT) + 1)".format(
            k=k, ws=", ".join(f"'{w}'" for w in ws),
            W=words_per_doc, salt=salt, n=len(ws))
        for k, ws in inv.items())
    nospace = [k for k in langs if k in _SYNTH_NOSPACE]
    sep = ("CASE WHEN lang IN ({}) THEN '' ELSE ' ' END".format(
        ", ".join(f"'{k}'" for k in nospace)) if nospace else "' '")
    return spark.range(n_docs).selectExpr(
        "id AS doc_id",
        f"CASE CAST(id % {len(langs)} AS INT) {lang_arms} END AS lang",
    ).selectExpr(
        "doc_id",
        "lang",
        f"array_join(transform(sequence(0, {words_per_doc - 1}), "
        f"j -> CASE lang {word_arms} END), {sep}) AS text",
    )


def bm25_search(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25-scored full-text search, fully distributed and UDF-free.

    The reference's text-search path (plan/optimizer.rs:510-751 rewrites
    CONTAINS predicates to a text-index scan with TEXT_SCORE metadata)
    bottoms out in a stub index ("Text search not supported",
    storage/indexes/manager.rs:104-112). Here scoring is real Robertson
    BM25: idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)),
    score(d) = Σ_t idf·tf·(k1+1)/(tf + k1·(1 - b + b·dl/avgdl)).

    Distributed shape (100 TB): the postings list (doc, term, tf) is one
    explode + map-side-combined groupBy; corpus stats (N, avgdl) and the
    per-term document frequencies are |query|-sized aggregates that
    BROADCAST back — the only real shuffle is the per-doc score groupBy,
    and the final top-k is TakeOrderedAndProject (no global sort).
    Returns (id, score, n_hits) for the top k docs, score desc, id asc.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = [t.lower() for t in query_terms]

    toks = F.split(F.lower(F.trim(F.col(text_col))), _WS)
    base = df.select(
        F.col(id_col).alias("_id"),
        toks.alias("_toks"),
        F.size(toks).cast("double").alias("_dl"),
    )
    # postings restricted to query terms before the explode: the filter
    # prunes inside the generator, so the shuffle carries only hits
    hits = (
        base.select(
            "_id",
            "_dl",
            F.explode(
                F.filter(F.col("_toks"), lambda t: t.isin(*terms))
            ).alias("term"),
        )
        .groupBy("_id", "_dl", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("_dl").alias("avgdl"),
    )
    dfreq = hits.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    from pyspark.sql.functions import broadcast

    scored = (
        hits.join(broadcast(dfreq), "term")
        .crossJoin(broadcast(stats))
        .withColumn(
            "idf",
            F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)),
        )
        .withColumn(
            "tscore",
            F.col("idf")
            * F.col("tf")
            * (k1 + 1.0)
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("_dl") / F.col("avgdl"))),
        )
    )
    return (
        scored.groupBy("_id")
        .agg(
            F.round(F.sum("tscore"), 6).alias("score"),
            F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
        )
        .select(F.col("_id").alias(id_col), "score", "n_terms_hit")
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Two document fingerprints:
    - content_hash: sha2-256 of the normalized text (exact identity)
    - shingle_hash: xxhash64 of the sorted distinct word set — an
      order-invariant bag fingerprint (cheap near-identity for shuffles
      of the same content)."""
    norm = F.lower(F.trim(F.col(text_col)))
    wordset = F.array_join(F.array_sort(F.array_distinct(F.split(norm, _WS))), " ")
    return df.select(
        F.col(id_col),
        F.sha2(norm, 256).alias("content_hash"),
        F.xxhash64(wordset).alias("shingle_hash"),
    )


def pack_documents(
    df: DataFrame,
    token_col: str = "n_tokens",
    capacity: int = 2048,
    order_col: str = "doc_id",
    by: str | list[str] | None = None,
    id_col: str = "doc_id",
    tokenizer=None,
    text_col: str = "text",
) -> DataFrame:
    """Assign documents to fixed-capacity token bins — the packing step a
    training-data pipeline runs before batching sequences.

    Offset-based packing: documents are laid out in a deterministic
    order (``order_col``) and a document starting at running offset ``o``
    lands in bin ``floor(o / capacity)``. One window cumsum, one pass; a
    document may straddle a boundary (its bin is where it STARTS), the
    standard streaming-packing approximation that keeps the operator a
    single shuffle instead of an inherently sequential best-fit loop.

    Scale: pass ``by`` (e.g. a shard or language column) so the sort
    window partitions — an unpartitioned window is a single-reducer
    total order, fine for one shard, wrong for 100 TB. Bin ids are then
    per-group. Returns (id, *by, bin, bin_offset, n_tokens).

    Pass ``tokenizer`` (a tokenize.BPETokenizer) to budget bins in
    real BPE tokens computed from ``text_col`` instead of reading a
    precomputed ``token_col``.
    """
    from pyspark.sql import Window

    if tokenizer is not None:
        from .tokenize import bpe_token_count_col

        token_col = "_bpe_tokens"
        df = df.withColumn(
            token_col, bpe_token_count_col(df, tokenizer, text_col))
    by_cols = [by] if isinstance(by, str) else list(by or [])
    # ROWS frame, not the default RANGE: rows tied on order_col must each
    # get their own running offset (RANGE would hand ties one shared
    # cumsum). order_col should still be a unique key per group so the
    # layout order — and therefore bin assignment — is deterministic.
    w = (
        Window.partitionBy(*by_cols)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = (F.sum(F.col(token_col)).over(w) - F.col(token_col)).cast("long")
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in by_cols],
        (F.floor(start / F.lit(capacity))).cast("long").alias("bin"),
        (start % F.lit(capacity)).alias("bin_offset"),
        F.col(token_col).cast("long").alias("n_tokens"),
    )


def chunk_documents(
    df: DataFrame,
    max_tokens: int = 512,
    overlap: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
    tokenizer=None,
) -> DataFrame:
    """Split documents into token-bounded (optionally overlapping)
    chunks — the context-window slicing step every training / RAG
    pipeline runs before embedding or packing. Beyond-reference
    surface (the reference has no text pipeline ops).

    Whitespace tokens; chunk i covers tokens [i*stride, i*stride +
    max_tokens) with stride = max_tokens - overlap, the final chunk
    keeping the (possibly shorter) tail. Empty documents produce no
    chunks. Entirely map-side: sequence + transform + explode inside
    whole-stage codegen, no shuffle, no Python — the row-expansion
    shape that scales to any corpus size. Returns
    (id, chunk_idx, text, n_tokens).

    Pass ``tokenizer`` (a tokenize.BPETokenizer) to measure windows in
    real BPE tokens instead (delegates to tokenize.chunk_documents_bpe;
    chunk text is then the exact byte slice — lossless).
    """
    if tokenizer is not None:
        from .tokenize import chunk_documents_bpe

        return chunk_documents_bpe(
            df, tokenizer, max_tokens=max_tokens, overlap=overlap,
            text_col=text_col, id_col=id_col)
    if max_tokens <= 0:
        raise ValueError(f"max_tokens must be positive, got {max_tokens}")
    if not 0 <= overlap < max_tokens:
        raise ValueError(
            f"overlap must be in [0, max_tokens), got {overlap}")
    stride = max_tokens - overlap
    # Hoist the tokenization into ONE projected column before the
    # Generate: referencing the raw split() expression inside the
    # generator repeats it in n_chunks/slice/least and Catalyst's
    # subexpression elimination does not reliably fire inside Generate
    # — the document would be re-split ~3x per row. A Project under
    # Generate evaluates split() once and the generator references the
    # attribute (see docs/PLANS.md chunk_documents_overlap).
    base = (
        df.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(F.col(id_col), _tokens(F.col(text_col)).alias("_toks"))
    )
    toks = F.col("_toks")
    n = F.size(toks)
    n_chunks = F.when(n <= max_tokens, F.lit(1)).otherwise(
        F.lit(1) + F.ceil((n - F.lit(max_tokens)) / F.lit(float(stride)))
    ).cast("int")
    chunk = F.explode(
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.struct(
                i.cast("long").alias("chunk_idx"),
                F.array_join(
                    F.slice(toks, i * stride + 1, max_tokens), " "
                ).alias("text"),
                F.least(n - i * stride, F.lit(max_tokens))
                .cast("long").alias("n_tokens"),
            ),
        )
    )
    return (
        base.select(F.col(id_col), chunk.alias("_c"))
        .select(id_col, "_c.chunk_idx", "_c.text", "_c.n_tokens")
    )


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    lowercase: bool = True,
    nfc: bool = True,
    collapse_whitespace: bool = True,
    strip_control: bool = True,
) -> DataFrame:
    """Canonicalize a text column — the normalization pass a curation
    pipeline runs BEFORE hashing/dedup/shingling so that byte-level
    variants of the same content collide: Unicode NFC composition,
    lowercasing (JVM ``lower()`` — NOT full Unicode casefold, so
    casefold-only-distinct variants like ß/ss or dotted/dotless I do
    not collide; the DuckDB oracle mirrors lower() exactly),
    control-character strip, whitespace collapse + trim.
    Replaces ``text_col`` in place; other columns pass through.

    Everything except NFC is JVM-side regexp/lower (whole-stage
    codegen). NFC needs Python's unicodedata — applied as ONE
    Arrow-vectorized pandas UDF (the repo's UDF policy: batch
    transfer, never per-row) and skippable (``nfc=False``) for
    ASCII-known corpora where it is the only non-codegen stage.
    """
    col = F.col(text_col)
    if nfc:
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        def _nfc(s):
            import unicodedata

            return s.map(
                lambda x: None if x is None
                else unicodedata.normalize("NFC", x)
            )

        # bind real objects: `from __future__ import annotations`
        # stringifies inline hints and breaks pandas_udf inference
        # (same pattern as the compiler's IS NFC NORMALIZED check)
        _nfc.__annotations__ = {"s": pd.Series, "return": pd.Series}
        col = pandas_udf(_nfc, "string")(col)
    if strip_control:
        # exclude \t\n\r (0x09/0x0A/0x0D): those are WHITESPACE and
        # must collapse to a space, not vanish
        col = F.regexp_replace(
            col, r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]", "")
    if lowercase:
        col = F.lower(col)
    if collapse_whitespace:
        col = F.trim(F.regexp_replace(col, r"\s+", " "))
    others = [c for c in df.columns if c != text_col]
    return df.select(*others, col.alias(text_col))


def lm_unigram_model(
    df: DataFrame,
    text_col: str = "text",
    smoothing: float = 0.5,
) -> DataFrame:
    """(word, logprob): the corpus unigram model lm_quality_score
    scores against — one map-side-combined groupBy, |V| rows.
    Split out so a model trained OFFLINE on a reference corpus can be
    applied to a different (or streaming) corpus, the standard
    quality-filter deployment."""
    toks = df.select(
        F.explode(_tokens(F.col(text_col))).alias("_w")
    ).filter(F.length("_w") > 0)
    model = toks.groupBy("_w").agg(F.count(F.lit(1)).alias("_c"))
    totals = model.agg(
        F.sum("_c").alias("_total"),
        F.count(F.lit(1)).alias("_vocab"),
    )
    return model.crossJoin(F.broadcast(totals)).select(
        F.col("_w").alias("word"),
        F.log(
            (F.col("_c") + F.lit(smoothing))
            / (F.col("_total") + F.lit(smoothing) * F.col("_vocab"))
        ).alias("logprob"),
    )


def lm_quality_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    smoothing: float = 0.5,
    model: DataFrame | None = None,
) -> DataFrame:
    """Unigram language-model quality score — the LM-likelihood filter
    a curation pipeline runs to rank documents by how typical their
    token distribution is of the corpus (atypical = boilerplate,
    garbled encodings, wrong-language shards score low).

    Per doc: mean token log-probability under the corpus unigram model
    with add-``smoothing`` (Lidstone) smoothing over the corpus
    vocabulary:
        p(w) = (count(w) + s) / (total + s*|V|)
        avg_logprob(d) = mean_{w in d} ln p(w)
    and perplexity = exp(-avg_logprob). Deterministic and fully
    SQL-expressible (the oracle recomputes the model), whitespace
    tokens — a BPE-denominated variant follows from tokenize_bpe +
    explode, same shape.

    Distributed shape (100 TB): the model is ONE map-side-combined
    groupBy over exploded tokens (|V| rows out) joined back BROADCAST
    — the corpus shuffles only its (doc, token-hash) postings once for
    the per-doc aggregate; totals ride as a broadcast 1x1 frame.
    Returns (id, n_tokens, avg_logprob, perplexity) for non-empty docs.

    Pass ``model`` (a (word, logprob) frame from lm_unigram_model,
    typically trained offline on a reference corpus) to score a
    DIFFERENT corpus — including a STREAMING one: scoring is then a
    stream-static broadcast join + per-doc aggregate, so the same call
    runs on a readStream frame (stream==batch pytest). Out-of-model
    tokens are dropped from the average in that mode (self-model
    scoring has none).
    """
    toks = df.select(
        F.col(id_col),
        F.explode(_tokens(F.col(text_col))).alias("_w"),
    ).filter(F.length("_w") > 0)
    if model is None:
        model = lm_unigram_model(df, text_col, smoothing)
    scored = toks.join(
        F.broadcast(model.select(F.col("word").alias("_w"), "logprob")),
        "_w",
    ).select(F.col(id_col), F.col("logprob").alias("_lp"))
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.avg("_lp").alias("_alp"),
        )
        .select(
            F.col(id_col),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.round("_alp", 6).alias("avg_logprob"),
            F.round(F.exp(-F.col("_alp")), 6).alias("perplexity"),
        )
    )


def _bigram_pairs(df: DataFrame, text_col: str, keep=()):
    """(w1, w2) rows per adjacent token pair — empties filtered before
    pairing so 'a  b' still yields (a, b). Map-side."""
    ws = F.filter(_tokens(F.col(text_col)), lambda x: F.length(x) > 0)
    base = df.select(ws.alias("_ws"), *[F.col(c) for c in keep]) \
        .filter(F.size("_ws") >= 2)
    pair = F.explode(F.expr(
        "zip_with(slice(_ws, 1, size(_ws) - 1), slice(_ws, 2, size(_ws) - 1),"
        " (a, b) -> struct(a AS w1, b AS w2))"))
    return base.select(pair.alias("_p"), *[F.col(c) for c in keep]) \
        .select(F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2"),
                *[F.col(c) for c in keep])


def lm_bigram_model(
    df: DataFrame,
    text_col: str = "text",
    smoothing: float = 0.5,
) -> DataFrame:
    """(w1, w2, logprob): corpus BIGRAM model with add-``smoothing``
    (Lidstone) smoothing over the unigram vocabulary as the
    continuation space:
        p(w2 | w1) = (c(w1,w2) + s) / (c(w1·) + s·|V|)
    where c(w1·) sums w1's observed bigram continuations and |V| is
    the corpus unigram vocabulary. Only OBSERVED bigrams materialize
    (|model| = distinct-bigram count, never |V|²). The order-2 sibling
    of lm_unigram_model: contextual fluency instead of bag-of-words
    typicality — shuffled or templated text keeps its unigram score
    but collapses under the bigram model.

    Shape at scale: one map-side-combined groupBy over exploded
    bigram pairs, a w1-marginal aggregate and a 1x1 vocab frame —
    model size is data-bounded, broadcastable for natural vocabularies
    (fall back to a shuffle join in lm_bigram_score for pathological
    vocabularies).
    """
    pairs = _bigram_pairs(df, text_col)
    model = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("_c"))
    lefts = model.groupBy("w1").agg(F.sum("_c").alias("_c1"))
    toks = df.select(F.explode(_tokens(F.col(text_col))).alias("_w")) \
        .filter(F.length("_w") > 0)
    vocab = toks.agg(F.count_distinct("_w").alias("_vocab"))
    return (
        model.join(lefts, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1", "w2",
            F.log(
                (F.col("_c") + F.lit(smoothing))
                / (F.col("_c1") + F.lit(smoothing) * F.col("_vocab"))
            ).alias("logprob"),
        )
    )


def lm_bigram_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    smoothing: float = 0.5,
    model: DataFrame | None = None,
) -> DataFrame:
    """Bigram language-model fluency score: per doc, the mean log
    p(w2|w1) over its adjacent token pairs under the corpus bigram
    model (lm_bigram_model), plus perplexity = exp(-mean). The
    curation signal unigram scoring cannot give: token-shuffled /
    template-stuffed text has normal unigram statistics but atypical
    transitions. Docs with < 2 tokens produce no row (no bigram
    evidence). Same deployment contract as lm_quality_score: pass a
    ``model`` trained offline to score a different or STREAMING
    corpus (stream-static broadcast join; unseen bigrams drop from
    the average), or omit it for self-model scoring.

    Returns (id, n_bigrams, avg_logprob, perplexity); fully
    SQL-expressible for the oracle (the oracle recomputes the model).
    """
    pairs = _bigram_pairs(df, text_col, keep=(id_col,))
    if model is None:
        model = lm_bigram_model(df, text_col, smoothing)
    scored = pairs.join(
        F.broadcast(model), ["w1", "w2"]
    ).select(F.col(id_col), F.col("logprob").alias("_lp"))
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.avg("_lp").alias("_alp"),
        )
        .select(
            F.col(id_col),
            F.col("n_bigrams").cast("long").alias("n_bigrams"),
            F.round("_alp", 6).alias("avg_logprob"),
            F.round(F.exp(-F.col("_alp")), 6).alias("perplexity"),
        )
    )


def corpus_stats(
    df: DataFrame,
    text_col: str = "text",
    by: str = "lang",
    tokenizer=None,
) -> DataFrame:
    """Per-group corpus report (the sanity table a dataset card
    quotes): document count, total/mean/max whitespace tokens, total
    chars. One partial-aggregated groupBy — map-side combined,
    corpus-scan-bound at any scale. Pass ``tokenizer`` (a
    tokenize.BPETokenizer) for subword-denominated totals — the
    numbers a training run actually reports."""
    if tokenizer is not None:
        from .tokenize import bpe_token_count_col

        toks = bpe_token_count_col(df, tokenizer, text_col)
    else:
        toks = F.when(
            F.length(F.trim(F.col(text_col))) == 0, F.lit(0)
        ).otherwise(F.size(_tokens(F.col(text_col)))).cast("long")
    return (
        df.select(F.col(by), toks.alias("_t"),
                  F.length(text_col).cast("long").alias("_c"))
        .groupBy(by)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_t").alias("total_tokens"),
            F.round(F.avg("_t"), 6).alias("avg_tokens"),
            F.max("_t").alias("max_tokens"),
            F.sum("_c").alias("total_chars"),
        )
    )


# the stop words of the Gopher rule (Rae et al. 2021, A1.1): a document
# must contain at least two of these to pass the "stop word" filter
GOPHER_STOP_WORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_filters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_line_ratio: float = 0.9,
    max_ellipsis_line_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.8,
    min_stop_words: int = 2,
    keep: tuple = (),
) -> DataFrame:
    """Per-document Gopher quality-filter flags (Rae et al. 2021 A1.1)
    — the rule set most published curation pipelines start from. One
    row per doc with each rule's boolean plus ``gopher_pass`` (AND of
    all); keeping the flags instead of filtering lets a pipeline audit
    WHY documents were dropped (the usual requirement before committing
    a 100 TB filter pass).

    Rules (defaults are the published thresholds):
    - word count in [min_words, max_words]
    - mean word length in [min_mean_word_len, max_mean_word_len]
    - symbol-to-word ratio (# or ...) <= max_symbol_ratio
    - fraction of lines starting with a bullet <= max_bullet_line_ratio
    - fraction of lines ending with ... <= max_ellipsis_line_ratio
    - fraction of words with >= 1 alphabetic char >= min_alpha_word_ratio
    - >= min_stop_words distinct Gopher stop words present

    All pure builtins (split / filter / size / regexp), map-side, no
    shuffle — the whole pass is one codegen'd projection over the scan,
    which is the only shape that survives 100 TB.
    """
    txt = F.col(text_col)
    toks = _tokens(txt)
    n_words = F.when(F.length(F.trim(txt)) == 0, F.lit(0)) \
        .otherwise(F.size(toks)).cast("long")
    sum_word_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t))
    mean_word_len = F.when(n_words > 0,
                           sum_word_len.cast("double") / n_words) \
        .otherwise(F.lit(0.0))
    # symbols: '#' occurrences + '...' occurrences (each counted once)
    n_hash = (F.length(txt) - F.length(F.regexp_replace(txt, r"#", ""))) \
        .cast("long")
    n_ellipsis = F.when(
        F.length(txt) > 0,
        (F.length(txt) - F.length(F.regexp_replace(txt, r"\.\.\.", "")))
        / F.lit(3),
    ).otherwise(F.lit(0)).cast("long")
    symbol_ratio = F.when(n_words > 0,
                          (n_hash + n_ellipsis).cast("double") / n_words) \
        .otherwise(F.lit(0.0))
    lines = F.split(txt, r"\n")
    n_lines = F.greatest(F.size(lines), F.lit(1)).cast("double")
    bullet_lines = F.size(F.filter(
        lines, lambda ln: F.trim(ln).rlike(r"^[-*•‣◦]")))
    ellipsis_lines = F.size(F.filter(
        lines, lambda ln: F.trim(ln).rlike(r"\.\.\.$")))
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike(r"[A-Za-z]")))
    alpha_ratio = F.when(n_words > 0, alpha_words.cast("double") / n_words) \
        .otherwise(F.lit(0.0))
    stop_hits = F.size(F.array_distinct(F.filter(
        toks, lambda t: F.lower(t).isin(*GOPHER_STOP_WORDS))))
    flags = {
        "word_count_ok": (n_words >= min_words) & (n_words <= max_words),
        "mean_word_len_ok": (mean_word_len >= min_mean_word_len)
        & (mean_word_len <= max_mean_word_len),
        "symbol_ratio_ok": symbol_ratio <= max_symbol_ratio,
        "bullet_lines_ok":
            bullet_lines.cast("double") / n_lines <= max_bullet_line_ratio,
        "ellipsis_lines_ok":
            ellipsis_lines.cast("double") / n_lines
            <= max_ellipsis_line_ratio,
        "alpha_words_ok": alpha_ratio >= min_alpha_word_ratio,
        "stop_words_ok": stop_hits >= min_stop_words,
    }
    # ``keep`` passes columns through the projection (e.g. the text
    # itself) so STREAMING callers can filter on gopher_pass without a
    # stream-stream self-join — the whole pass stays one map-side
    # projection
    out = [F.col(id_col), *[F.col(c) for c in keep],
           n_words.alias("n_words"),
           F.round(mean_word_len, 6).alias("mean_word_len")]
    passed = None
    for name, flag in flags.items():
        out.append(flag.alias(name))
        passed = flag if passed is None else (passed & flag)
    out.append(passed.alias("gopher_pass"))
    return df.select(*out)


# published thresholds (Rae et al. 2021, Table A1): a doc FAILS a rule
# when its measured fraction exceeds the threshold
GOPHER_TOP_GRAM_THRESHOLDS = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_DUP_GRAM_THRESHOLDS = {5: 0.15, 6: 0.14, 7: 0.13,
                              8: 0.12, 9: 0.11, 10: 0.10}


def gopher_repetition_filters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dup_line_frac: float = 0.30,
    max_dup_line_char_frac: float = 0.20,
    top_gram_thresholds: dict[int, float] | None = None,
    dup_gram_thresholds: dict[int, float] | None = None,
) -> DataFrame:
    """The REPETITION half of the Gopher rule set (Rae et al. 2021
    A1.1; gopher_quality_filters is the quality half): per document,

    - duplicate LINE fraction (lines occurring more than once / lines)
      and duplicate-line CHARACTER fraction;
    - top n-gram character fraction for n in {2,3,4}: chars inside all
      occurrences of the single MOST FREQUENT word n-gram / word chars
      (ties on frequency break to the gram with the largest char
      footprint — deterministic, and a rarer-but-longer gram never
      wins over the most frequent one);
    - duplicate n-gram character fraction for n in {5..10}: chars at
      word positions covered by ANY n-gram that occurs more than once
      within the document / word chars.

    Entirely per-doc array expressions (split + hoisted gram/count
    columns + zip_with/aggregate lambdas): map-side, zero shuffle —
    the occurrence counting is O(G²) per doc in the gram count G,
    which is the right trade below ~10^4-word documents (the regime
    the published thresholds target); book-length inputs should chunk
    first (chunk_documents). Every fraction is an int/int double, so
    the flags are exactly reproducible in the SQL oracle.

    Returns the measured fractions (rounded 6 for display), one ok
    flag per rule (computed on the unrounded values), and
    ``repetition_pass`` = AND of all flags.
    """
    top_t = dict(GOPHER_TOP_GRAM_THRESHOLDS if top_gram_thresholds is None
                 else top_gram_thresholds)
    dup_t = dict(GOPHER_DUP_GRAM_THRESHOLDS if dup_gram_thresholds is None
                 else dup_gram_thresholds)
    txt = F.col(text_col)
    stage1 = df.select(
        F.col(id_col),
        F.when(F.length(F.trim(txt)) == 0,
               F.array().cast("array<string>"))
        .otherwise(F.split(F.trim(txt), r"\s+")).alias("_ws"),
        F.split(txt, r"\n").alias("_lines"),
    )
    # the O(G^2) per-doc lambdas are a NARROW projection, so their
    # parallelism is the scan's split count — spread doc rows to
    # shuffle width first when the scan is narrower (the span_dedup
    # lesson: a compact parquet serialized 50k docs onto 2 cores,
    # 141s -> one shuffle of doc rows buys 32-way lambdas; no-op on a
    # many-split 100 TB scan)
    from .common import spread_narrow

    stage1 = spread_narrow(stage1, id_col)
    stage2 = stage1.select(
        id_col, "_ws", "_lines",
        F.expr("aggregate(_ws, 0L, (a, w) -> a + length(w))").alias("_swl"),
        F.expr("transform(_lines, l -> "
               "size(filter(_lines, x -> x = l)))").alias("_lcnt"),
        *[
            F.expr(
                f"CASE WHEN size(_ws) >= {n} THEN "
                f"transform(sequence(0, size(_ws) - {n}), "
                f"p -> concat_ws(' ', slice(_ws, p + 1, {n}))) "
                f"ELSE array() END"
            ).alias(f"_g{n}")
            for n in sorted(set(top_t) | set(dup_t))
        ],
    )
    stage3 = stage2.select(
        id_col, "_ws", "_lines", "_swl", "_lcnt",
        *[
            F.expr(f"transform(_g{n}, g -> "
                   f"size(filter(_g{n}, x -> x = g)))").alias(f"_c{n}")
            for n in sorted(set(top_t) | set(dup_t))
        ],
        *[F.col(f"_g{n}") for n in sorted(top_t)],
    )
    # hoist each top-n max count to a column: referencing
    # array_max(_c{n}) inside the zip_with lambda below would
    # re-evaluate it per element (the recurring lambda-inlining trap)
    stage3 = stage3.select(
        "*",
        *[F.expr(f"array_max(_c{n})").alias(f"_m{n}")
          for n in sorted(top_t)],
    )
    # measured fractions, all guarded for empty denominators
    line_chars = "aggregate(_lines, 0L, (a, l) -> a + length(l))"
    dup_line_chars = (
        "aggregate(zip_with(_lines, _lcnt, (l, c) -> "
        "IF(c > 1, length(l), 0L)), 0L, (a, x) -> a + x)")
    frac_cols = {
        "dup_line_frac": F.expr(
            "CASE WHEN size(_lines) > 0 THEN "
            "CAST(size(filter(_lcnt, c -> c > 1)) AS DOUBLE) / size(_lines) "
            "ELSE 0.0 END"),
        "dup_line_char_frac": F.expr(
            f"CASE WHEN {line_chars} > 0 THEN "
            f"CAST({dup_line_chars} AS DOUBLE) / {line_chars} "
            f"ELSE 0.0 END"),
    }
    for n in sorted(top_t):
        # the rule is the char share of the MOST FREQUENT n-gram —
        # restrict to grams at the max count, THEN take the largest
        # char footprint (deterministic tiebreak among equally-
        # frequent grams; a rarer-but-longer gram must not win)
        frac_cols[f"top{n}_gram_char_frac"] = F.expr(
            f"CASE WHEN _swl > 0 AND size(_g{n}) > 0 THEN "
            f"CAST(array_max(zip_with(_g{n}, _c{n}, "
            f"(g, c) -> IF(c = _m{n}, c * (length(g) - {n - 1}), 0L))) "
            f"AS DOUBLE) / _swl "
            f"ELSE 0.0 END")
    for n in sorted(dup_t):
        # word position i is covered iff some duplicated n-gram starts
        # in [i-n+1, i] (clamped); sum covered word chars
        covered = (
            f"aggregate(sequence(0, size(_ws) - 1), 0L, (a, i) -> a + "
            f"IF(size(_c{n}) > 0 AND exists(slice(_c{n}, "
            f"greatest(0, i - {n - 1}) + 1, "
            f"least(i, size(_c{n}) - 1) - greatest(0, i - {n - 1}) + 1), "
            f"c -> c > 1), length(element_at(_ws, i + 1)), 0L))")
        frac_cols[f"dup{n}_gram_char_frac"] = F.expr(
            f"CASE WHEN _swl > 0 AND size(_ws) >= {n} THEN "
            f"CAST({covered} AS DOUBLE) / _swl ELSE 0.0 END")
    stage4 = stage3.select(
        id_col, *[c.alias(f"_f_{name}") for name, c in frac_cols.items()])
    thresholds = {"dup_line_frac": max_dup_line_frac,
                  "dup_line_char_frac": max_dup_line_char_frac}
    for n, t in top_t.items():
        thresholds[f"top{n}_gram_char_frac"] = t
    for n, t in dup_t.items():
        thresholds[f"dup{n}_gram_char_frac"] = t
    out = [F.col(id_col)]
    passed = None
    for name in frac_cols:
        flag = F.col(f"_f_{name}") <= F.lit(thresholds[name])
        out.append(F.round(F.col(f"_f_{name}"), 6).alias(name))
        out.append(flag.alias(f"{name}_ok"))
        passed = flag if passed is None else (passed & flag)
    out.append(passed.alias("repetition_pass"))
    return stage4.select(*out)


def perplexity_buckets(
    df: DataFrame,
    value_col: str = "perplexity",
    id_col: str = "doc_id",
    group_cols: tuple = (),
    labels: tuple = ("head", "middle", "tail"),
    out_col: str = "ppl_bucket",
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): split
    each group (typically a language) into equal-depth buckets by LM
    perplexity ascending — 'head' is the most-reference-like third,
    'tail' the least; CCNet keeps head+middle and drops or downweights
    tail. Compose after lm_quality_score / lm_bigram_score.

    Deterministic: ntile over (value asc, id) — equal values split by
    id, matching ANSI NTILE in any oracle engine. Scale shape: one
    window shuffle on the group key over the SCORED frame (one short
    row per doc, not the text) — the corpus itself is joined back by
    id only if the caller wants text downstream.
    """
    if len(labels) < 2:
        raise ValueError(f"need >= 2 bucket labels, got {labels!r}")
    from pyspark.sql import Window

    w = Window.partitionBy(*[F.col(c) for c in group_cols]).orderBy(
        F.col(value_col).asc(), F.col(id_col).asc())
    n = len(labels)
    lab = F.element_at(F.array(*[F.lit(x) for x in labels]),
                       F.ntile(n).over(w))
    return df.withColumn(out_col, lab)


def build_bm25_index(
    corpus: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    target_mb: int = 256,
) -> int:
    """Materialize bm25_search's postings ONCE — the persisted
    inverted index (the ANN/dedup persisted-index discipline applied
    to lexical search): ``{path}/postings`` (term, id, tf, dl) laid
    out KEY-RANGE-PARTITIONED and sorted by term (each file a
    disjoint term range) so a term-filtered query scan prunes whole
    files, not just row groups;
    ``{path}/terms`` (term, df); ``{path}/stats`` 1-row (n_docs,
    avgdl). bm25_search re-tokenizes the corpus per query batch —
    correct, but at 100 TB the postings are the thing you build once
    per corpus version and scan per query. Scoring from this index is
    bit-identical to bm25_search (same tf/df/dl/stats — pytest).
    Returns n_docs."""
    from graphlite_spark.sources.sinks import write_parquet_sized

    from .index_store import reset_manifest

    reset_manifest(corpus.sparkSession, path,
                   ["postings", "terms", "stats"])
    toks = F.split(F.lower(F.trim(F.col(text_col))), _WS)
    base = corpus.select(
        F.col(id_col).alias("id"),
        toks.alias("_toks"),
        F.size(toks).cast("double").alias("dl"),
    )
    postings = (
        base.select("id", "dl", F.explode("_toks").alias("term"))
        .groupBy("id", "dl", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    # key-range layout (not just within-file sort): each file covers
    # a disjoint term range, so a point-term query reads ONE row
    # group overall instead of one per file (round-robin + sort
    # spreads the full term range into every file)
    write_parquet_sized(postings, f"{path}/postings",
                        target_mb=target_mb, range_by=["term"])
    spark = corpus.sparkSession
    terms = postings.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df"))
    write_parquet_sized(terms, f"{path}/terms", target_mb=target_mb)
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        # exact corpus token mass, so incremental epochs
        # (bm25_index_ingest_batch) recombine avgdl without the
        # n*avg round-trip losing ulps
        F.sum("dl").alias("sum_dl"))
    stats.coalesce(1).write.mode("overwrite").parquet(f"{path}/stats")
    return int(spark.read.parquet(f"{path}/stats")
               .collect()[0]["n_docs"])


def bm25_index_ingest_batch(
    batch: DataFrame,
    path: str,
    batch_id: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> int:
    """Extend a persisted BM25 index with one ingest epoch — the
    maintenance loop the dedup index already has, applied to lexical
    search: the epoch's postings, per-term document frequencies and
    corpus stats land under ``{path}/postings_delta,terms_delta,
    stats_delta/_batch_id=<k>`` with dynamic partition overwrite, so
    a crash-replayed epoch rewrites itself (exactly-once, the
    idempotent_parquet_sink device). Queries through
    bm25_search_indexed see base ∪ deltas with df summed across tiers
    and avgdl recombined from exact per-tier (n_docs, sum_dl) pairs —
    scoring equals a from-scratch rebuild over the union corpus
    (pytest-pinned). Doc ids are assumed globally unique across
    epochs (index AFTER dedup — the pipeline order). Epochs are
    FENCED like the dedup index's (index_store.fence_epoch): a gap
    past the committed high-water mark raises, and a re-delivered
    epoch is a verified no-op — its postings/df/stats are recomputed
    and checked multiset-equal against the committed partitions.
    Returns the number of docs ingested."""
    from .index_store import (
        commit_epoch_with_rebase,
        fence_epoch,
        publish_delta,
        read_delta,
        verify_replay,
    )

    spark = batch.sparkSession
    mode, manifest = fence_epoch(spark, path, batch_id)
    toks = F.split(F.lower(F.trim(F.col(text_col))), _WS)
    base = batch.select(
        F.col(id_col).alias("id"),
        toks.alias("_toks"),
        F.size(toks).cast("double").alias("dl"),
    ).localCheckpoint(eager=False)
    postings = (
        base.select("id", "dl", F.explode("_toks").alias("term"))
        .groupBy("id", "dl", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
        # two consumers (its own publish/verify AND the terms df
        # aggregation) — left lazy, the explode+groupBy subtree ran
        # twice per epoch, on the publish path and on every crash-
        # replay verification alike (r12; guide §5)
        .localCheckpoint(eager=False)
    )
    terms = postings.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df"))
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum("dl").alias("sum_dl"))
    if mode == "replay":
        for tier, frame in (("postings", postings), ("terms", terms),
                            ("stats", stats)):
            verify_replay(
                read_delta(spark, path, tier, manifest,
                           at_batch=batch_id),
                frame, path, tier, batch_id)
        return int(base.count())
    # staged publishes (stage + rename — index_store.publish_delta),
    # then an optimistic manifest commit that rebases past interleaved
    # commits instead of aborting
    publish_delta(spark, path, "postings",
                  postings.sortWithinPartitions("term"), batch_id)
    publish_delta(spark, path, "terms", terms, batch_id)
    publish_delta(spark, path, "stats", stats.coalesce(1), batch_id)
    commit_epoch_with_rebase(spark, path, batch_id, manifest)
    return int(base.count())


def compact_bm25_index(spark, path: str, target_mb: int = 256) -> int:
    """Fold a maintained BM25 index's delta tiers back into its base
    (the compact_dedup_index hygiene pass for the lexical index):
    postings rewrite term-sorted (row-group pruning is restored for
    the whole corpus — delta partitions were only sorted within their
    epoch), per-term df re-sums, stats recombine into one row with an
    exact sum_dl. Score-preserving by construction (same tf/df/dl
    multiset — pytest-pinned) and ATOMIC to readers: new bases land
    as ``{tier}_v{n}`` and are published with one manifest-file
    rename (index_store.commit_compaction); folded delta partitions
    are fenced off by ``delta_floor`` before GC deletes them, so the
    SUM semantics of the df/stats tiers never double-count even
    mid-crash (crash-injection pytest at every FS-op cut point).
    Returns n_docs."""
    from graphlite_spark.sources.sinks import write_parquet_sized

    from .index_store import (
        _fault_point,
        commit_compaction,
        current_manifest,
        gc_index,
        read_base,
        read_delta,
        read_tier,
    )

    m = current_manifest(spark, path)
    v = int(m.get("version", 1)) + 1
    new_tiers = {}

    def _write(tier: str, frame, range_by=None):
        new_dir = f"{tier}_v{v}"
        _fault_point(f"compact:write:{tier}")
        if range_by:
            # disjoint per-file key ranges — see build_bm25_index
            write_parquet_sized(frame, f"{path}/{new_dir}",
                                target_mb=target_mb,
                                range_by=range_by)
        else:
            frame.coalesce(1).write.mode("overwrite") \
                .parquet(f"{path}/{new_dir}")
        new_tiers[tier] = new_dir

    postings = read_tier(spark, path, "postings", manifest=m)
    _write("postings", postings, range_by=["term"])
    terms = read_base(spark, path, "terms", m)
    tdelta = read_delta(spark, path, "terms", m)
    if tdelta is not None:
        terms = terms.unionByName(tdelta.select(*terms.columns))
    _write("terms", terms.groupBy("term").agg(F.sum("df").alias("df")))
    base_stats = read_base(spark, path, "stats", m)
    if "sum_dl" not in base_stats.columns:
        base_stats = base_stats.withColumn(
            "sum_dl", F.col("n_docs") * F.col("avgdl"))
    tiers = base_stats.select("n_docs", "sum_dl")
    sdelta = read_delta(spark, path, "stats", m)
    if sdelta is not None:
        tiers = tiers.unionByName(sdelta.select("n_docs", "sum_dl"))
    combined = tiers.agg(
        F.sum("n_docs").alias("n_docs"),
        (F.sum("sum_dl") / F.sum("n_docs")).alias("avgdl"),
        F.sum("sum_dl").alias("sum_dl"))
    _write("stats", combined)
    m2 = commit_compaction(spark, path, new_tiers, m)
    gc_index(spark, path, m2, ["postings", "terms", "stats"])
    return int(read_base(spark, path, "stats", m2)
               .collect()[0]["n_docs"])


def bm25_search_indexed(
    spark,
    path: str,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    as_of_seq: "int | None" = None,
) -> DataFrame:
    """BM25 top-k over a PERSISTED index (build_bm25_index): the query
    plan reads postings WHERE term IN (...) — a pushed-down filter
    over the term-sorted parquet, so a 3-term query scans 3 terms'
    row groups, not the corpus — joins the broadcast per-term df rows
    and the 1-row stats, and runs the identical Robertson scoring.
    Bit-identical to bm25_search on the same corpus (pytest + the
    shared oracle). When the index has been maintained incrementally
    (bm25_index_ingest_batch), the delta tiers fold in: postings
    union, df summed per term across tiers, avgdl recombined from
    exact per-tier (n_docs, sum_dl) pairs.

    ``as_of_seq=s``: TIME TRAVEL — score against the index exactly as
    it stood at manifest commit ``s`` (df, avgdl, n_docs all as of
    that epoch — the audit read for "what did this query return when
    epoch k landed?"); snapshots outside the GC retention window
    raise (index_store.read_tier rules)."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    from .index_store import (
        _check_snapshot_readable,
        current_manifest,
        manifest_at,
        read_base,
        read_delta,
        read_tier,
    )

    if as_of_seq is not None:
        man = manifest_at(spark, path, as_of_seq)
        for t in ("postings", "terms", "stats"):
            _check_snapshot_readable(spark, path, t, man, as_of_seq)
    else:
        man = current_manifest(spark, path)
    terms = [t.lower() for t in query_terms]
    postings = read_tier(spark, path, "postings", manifest=man) \
        .filter(F.col("term").isin(*terms))
    dfreq = read_tier(spark, path, "terms", manifest=man) \
        .filter(F.col("term").isin(*terms)) \
        .groupBy("term").agg(F.sum("df").alias("df"))
    base_stats = read_base(spark, path, "stats", man)
    if "sum_dl" not in base_stats.columns:
        # pre-maintenance indexes store (n_docs, avgdl) only
        base_stats = base_stats.withColumn(
            "sum_dl", F.col("n_docs") * F.col("avgdl"))
    tiers = base_stats.select("n_docs", "sum_dl")
    sdelta = read_delta(spark, path, "stats", man)
    if sdelta is not None:
        tiers = tiers.unionByName(sdelta.select("n_docs", "sum_dl"))
    stats = tiers.agg(
        F.sum("n_docs").alias("n_docs"),
        (F.sum("sum_dl") / F.sum("n_docs")).alias("avgdl"))
    scored = (
        postings.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5)
                  / (F.col("df") + 0.5)))
        .withColumn(
            "tscore",
            F.col("idf") * F.col("tf") * (k1 + 1.0)
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl")
                                   / F.col("avgdl"))))
    )
    return (
        scored.groupBy("id")
        .agg(F.round(F.sum("tscore"), 6).alias("score"),
             F.count(F.lit(1)).cast("long").alias("n_terms_hit"))
        .select(F.col("id").alias(id_col), "score", "n_terms_hit")
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


def train_quality_lr(
    labeled: DataFrame,
    label_col: str = "lang",
    pos_label: str = "good",
    text_col: str = "text",
    id_col: str = "doc_id",
    orders: tuple[int, ...] = (1,),
    num_buckets: int | None = None,
    lr: float = 1.0,
    num_iter: int = 8,
    grad_round: int = 8,
    tol: float | None = None,
) -> DataFrame:
    """Train a DISCRIMINATIVE quality classifier — distributed binary
    logistic regression over word-n-gram count features (VERDICT r8
    ask #5: the published pipelines — CCNet, LLaMA, RefinedWeb — gate
    on a linear model over hashed n-gram features, not the generative
    NB nb_quality_classifier approximates them with).

    Full-batch gradient descent, every piece a deterministic pure
    function of the corpus so the WHOLE trajectory replays in ANSI
    SQL (the DSIR discipline):

      p_i     = sigmoid(Σ_f c_if·w_f + b)     (z: map-side array fold
                                               against the broadcast
                                               weight map — no join,
                                               no shuffle)
      g_f     = round(Σ_i c_if·(y_i - p_i)/N, grad_round)
                                              (one explode+groupBy per
                                               iteration, collected —
                                               vocab-bounded)
      w_f    += lr·g_f ; b += lr·round(Σ_i (y_i-p_i)/N, grad_round)

    Deterministic init w=0, b=0; exactly ``num_iter`` iterations; the
    per-iteration gradient ROUNDING (8 dp) is the cross-engine device:
    it absorbs the ~1e-16 summation-order noise between engines, so
    weights stay bit-identical across iterations instead of
    compounding drift. ``num_buckets`` hashes features into a bounded
    space (xxhash64 mod buckets — the DSIR deployment shape, model
    size capped for broadcast at any corpus scale; engine-internal,
    so oracles go rows-only); the default None keeps raw gram
    features and the math exactly SQL-replayable.

    ``tol``: when set, RAISES (the kmeans bounded-rounds discipline)
    if max |gradient| after the final iteration still exceeds it —
    silent non-convergence never masquerades as a trained model.

    Returns the model frame: (feature, weight) for every corpus
    feature plus one bias row with feature NULL. Labels: y = 1 iff
    ``label_col == pos_label``.
    """
    from .sampling import _word_ngram_features

    if num_iter < 1:
        raise ValueError(f"num_iter must be >= 1, got {num_iter}")
    if lr <= 0:
        raise ValueError(f"lr must be > 0, got {lr}")
    feats_arr = _word_ngram_features(text_col, tuple(orders))
    gexpr = F.col("_g")
    if num_buckets is not None:
        if num_buckets < 2:
            raise ValueError(f"num_buckets must be >= 2, got {num_buckets}")
        gexpr = F.pmod(F.xxhash64(F.col("_g")),
                       F.lit(int(num_buckets))).cast("string")
    # per-gram feature key, usable both on an exploded column and
    # inside array lambdas
    def _fkey(c):
        if num_buckets is not None:
            return F.pmod(F.xxhash64(c), F.lit(int(num_buckets))) \
                .cast("string")
        return c

    # spread before the feature projection: the training frame is
    # tiny in BYTES (AQE coalesces it to one task) but every GD
    # iteration runs an array fold + explode over it — CPU-heavy,
    # byte-light, exactly spread_narrow's contract. The checkpoint
    # then pins the spread partitioning for all iterations.
    from .common import spread_narrow

    base = spread_narrow(
        labeled.select(
            (F.col(label_col) == F.lit(pos_label)).cast("double")
            .alias("_y"),
            F.col(text_col),
        ),
        text_col,
    ).select("_y", feats_arr.alias("_gs")).localCheckpoint(eager=False)
    n_docs = float(base.count())
    if n_docs == 0:
        raise ValueError("train_quality_lr: empty training frame")
    # The weight vector lives on the DRIVER between iterations — the
    # same boundedness contract the broadcast form already relied on
    # (the model ships whole to every executor either way; num_buckets
    # caps it for deployment). That makes each GD iteration ONE Spark
    # action with ONE exchange: z is a map-side array fold against the
    # broadcast weight map (no join, no per-doc shuffle), the residual
    # is a projection, and the gradient is a single explode+groupBy
    # whose result (vocab-bounded) is collected and applied in the
    # driver. The earlier form paid ~20 AQE stage-jobs per iteration
    # (weight-frame checkpoint, two probe collects, and a re-derived
    # residual subtree) — guide §1.2 "the distributed algorithm",
    # §2.4 "remove shuffles outright". Trajectory identical: same
    # formulas, same per-iteration grad_round rounding (which absorbs
    # summation-order noise between engines by design).
    spark = labeled.sparkSession
    vocab_rows = (
        base.select(F.explode("_gs").alias("_g"))
        .select(gexpr.alias("_f")).distinct().collect()
    )
    weights: dict = {r["_f"]: 0.0 for r in vocab_rows}
    bias = 0.0
    max_grad = float("inf")
    for _ in range(num_iter):
        # bias rides in the broadcast row (not as a literal) so the
        # per-iteration plan is byte-identical and whole-stage-codegen
        # compilation caches across iterations
        wmap = local_frame(spark, [(weights, float(bias))],
                           "_wm map<string,double>, _b double")
        z_expr = F.aggregate(
            F.transform(
                "_gs",
                lambda g: F.coalesce(F.element_at("_wm", _fkey(g)),
                                     F.lit(0.0)),
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        r_frame = (
            base.crossJoin(F.broadcast(wmap))
            .select(
                "_gs",
                (F.col("_y")
                 - F.lit(1.0)
                 / (F.lit(1.0)
                    + F.exp(-(z_expr + F.col("_b"))))).alias("_r"),
            )
        )
        grad_rows = (
            r_frame.select("_r", F.explode("_gs").alias("_g"))
            .select("_r", gexpr.alias("_f"))
            .groupBy("_f")
            .agg(F.round(F.sum("_r") / F.lit(n_docs),
                         grad_round).alias("_g"))
            .unionByName(
                r_frame.agg(F.round(F.sum("_r") / F.lit(n_docs),
                                    grad_round).alias("_g"))
                .select(F.lit(None).cast("string").alias("_f"), "_g"))
            .collect()
        )
        mg = 0.0
        for r in grad_rows:
            g = float(r["_g"] or 0.0)
            mg = max(mg, abs(g))
            if r["_f"] is None:
                bias += lr * g
            else:
                weights[r["_f"]] += lr * g
        max_grad = mg
    if tol is not None and max_grad > tol:
        raise RuntimeError(
            f"train_quality_lr: max |gradient| {max_grad} > tol={tol} "
            f"after num_iter={num_iter}; raise num_iter or lr")
    rows = [(f, w) for f, w in weights.items()] + [(None, float(bias))]
    return local_frame(spark, rows, "feature string, weight double")


def lr_quality_score(
    df: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    orders: tuple[int, ...] = (1,),
    num_buckets: int | None = None,
    threshold: float = 0.0,
) -> DataFrame:
    """Score a corpus with a trained (or injected-literal)
    train_quality_lr model: (id, score, quality_pass) with score =
    round(Σ_f c_f·w_f + bias, 4) — the log-odds margin — and
    quality_pass = score > threshold. ``orders``/``num_buckets`` must
    match the training call (raw-gram models join on the gram string;
    hashed models on the bucket).

    Scale shape: the model frame is broadcast (num_buckets caps it at
    any corpus size); the corpus is read once — explode, broadcast
    join, one per-doc sum. Docs whose features all miss the model
    still score (left join, missing weights contribute 0); docs
    absent from the explode cannot exist (the tokenizer emits [''] on
    empty text, matching the SQL twin).
    """
    from .sampling import _word_ngram_features

    feats_arr = _word_ngram_features(text_col, tuple(orders))
    gexpr = F.col("_g")
    if num_buckets is not None:
        gexpr = F.pmod(F.xxhash64(F.col("_g")),
                       F.lit(int(num_buckets))).cast("string")
    bias = model.filter(F.col("feature").isNull()) \
        .select(F.col("weight").alias("_b"))
    w = model.filter(F.col("feature").isNotNull()) \
        .select(F.col("feature").alias("_f"), F.col("weight").alias("_w"))
    # spread before the explode: byte-light, CPU-heavy (see
    # train_quality_lr) — a one-row-group corpus would score on one
    # core otherwise
    from .common import spread_narrow

    feats = (
        spread_narrow(df.select(F.col(id_col), F.col(text_col)), id_col)
        .select(F.col(id_col), F.explode(feats_arr).alias("_g"))
        .select(F.col(id_col), gexpr.alias("_f"))
    )
    z = (
        feats.join(F.broadcast(w), "_f", "left")
        .groupBy(id_col)
        .agg(F.sum(F.coalesce("_w", F.lit(0.0))).alias("_z"))
    )
    out = (
        df.select(id_col).distinct()
        .join(z, id_col, "left")
        .crossJoin(F.broadcast(bias))
        .select(
            F.col(id_col),
            F.round(F.coalesce("_z", F.lit(0.0)) + F.col("_b"), 4)
            .alias("score"),
        )
    )
    return out.select(id_col, "score",
                      (F.col("score") > F.lit(threshold))
                      .alias("quality_pass"))


def lr_score_col(
    model: DataFrame,
    text_col: str = "text",
    orders: tuple[int, ...] = (1,),
    num_buckets: int | None = None,
    max_literal: int = 16384,
):
    """The trained-LR margin as a pure COLUMN expression — scoring as
    literally "one map-side projection": the (bounded) model folds
    into a map literal and the margin is an F.aggregate over the gram
    array, so the plan has ZERO exchanges and the expression is
    stream-legal (use it inside readStream selects, where
    lr_quality_score's per-doc groupBy is not needed — all of a
    document's grams live in its own row here).

    Bounded-model contract: the literal is collected to the driver
    once (the broadcast-weights idea taken to its limit), so the
    model must be bounded — train with ``num_buckets`` (the DSIR
    device caps vocabulary at any corpus size) or keep vocab small;
    raises if the model exceeds ``max_literal`` rows rather than
    silently building a plan-breaking literal (the 64 KB codegen
    lesson: stage big literals, never inline unbounded ones).

    Returns a Column: round(sum_f count_f * w_f + bias, 4) — equal to
    lr_quality_score's score column by construction (pytest-pinned).
    """
    from .sampling import _word_ngram_features

    rows = model.collect()
    if len(rows) > max_literal:
        raise ValueError(
            f"lr_score_col: model has {len(rows)} rows > "
            f"max_literal={max_literal}; train with num_buckets to "
            "bound the vocabulary")
    bias = 0.0
    entries = []
    for r in rows:
        if r["feature"] is None:
            bias = float(r["weight"])
        else:
            entries.append((r["feature"], float(r["weight"])))
    feats_arr = _word_ngram_features(text_col, tuple(orders))
    gexpr = (lambda c: c)
    if num_buckets is not None:
        gexpr = (lambda c: F.pmod(F.xxhash64(c),
                                  F.lit(int(num_buckets))).cast("string"))
    if not entries:
        return F.round(F.lit(bias), 4)
    wmap = F.create_map(
        *[F.lit(x) for kv in entries for x in kv])
    # stage the gram array once; the fold looks each gram up in the
    # literal map (missing grams contribute 0.0)
    return F.round(
        F.aggregate(
            feats_arr,
            F.lit(0.0),
            lambda acc, g: acc + F.coalesce(
                wmap[gexpr(g)], F.lit(0.0)),
        ) + F.lit(bias),
        4,
    )
