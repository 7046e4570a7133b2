"""Text analysis for training-data pipelines: token counting, quality
scoring, language ID, document fingerprinting.

All pure Column expressions (split / filter / regexp_count / md5) — no
Python in the row path, so these run inside whole-stage codegen and scale
linearly with input splits. Each has an exact DuckDB-SQL twin used by the
correctness oracles (see ``hobbes_spark.queries``).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from hobbes_spark.expressions import c

__all__ = [
    "tfidf_top_terms",
    "bm25_topk",
    "vocabulary_overlap",
    "normalize_text",
    "nfc_normalize",
    "unicode_normalize",
    "NORMALIZE_RULES",
    "tokens",
    "token_count",
    "wordlike_token_count",
    "stopword_ratio_t",
    "alpha_ratio",
    "punct_ratio",
    "quality_score",
    "quality_score_t",
    "lang_scores",
    "lang_scores_t",
    "lang_id",
    "lang_id_t",
    "lang_id_ngram",
    "lang_ngram_profiles",
    "LANG_SEEDS",
    "LANG_NGRAM_PREFIX",
    "fingerprint",
    "winnow_fingerprints",
    "STOPWORDS",
    "LANG_MARKERS",
    "WORDLIKE_PATTERN",
]

#: compact English stoplist for quality scoring
STOPWORDS = ("the", "a", "an", "of", "and", "to", "in", "is", "it", "that")

#: BPE-ish lexer: words | numbers | single punctuation
WORDLIKE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

#: per-language marker words for the n-gram/stopword language heuristic
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "is", "you", "are"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein"),
    "fr": ("le", "la", "les", "et", "est", "une", "vous"),
    "es": ("el", "los", "las", "y", "es", "una", "que"),
}

_CJK = r"[一-鿿]"


def tokens(col: Column | str) -> Column:
    """Whitespace tokens; NULL or blank text gives an empty array (total
    function — downstream counts/explodes never see a NULL array, and
    the DuckDB oracle twin `_TOKS_SQL` pins the same convention)."""
    src = F.trim(c(col))
    return F.when(
        src.isNull() | (F.length(src) == 0), F.array().cast("array<string>")
    ).otherwise(F.split(src, r"\s+"))


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col)).cast("bigint")


def wordlike_token_count(col: Column | str) -> Column:
    """Count of word/number/punct lexemes (BPE-ish regex tokenizer).
    Total like :func:`token_count`: NULL text counts 0, not NULL."""
    return F.coalesce(
        F.regexp_count(c(col), F.lit(WORDLIKE_PATTERN)), F.lit(0)
    ).cast("bigint")


def stopword_ratio_t(toks_l: Column) -> Column:
    """Fraction of pre-lowercased whitespace tokens that are stopwords.

    The ``_t`` variants exist for pipelines that stage the token array
    as a projected column and score several metrics from it: passing
    the tokens expression inline would re-run the split once per
    consumer (quality + 5 language scores = 7 splits/row), while a
    staged multi-referenced column is tokenized once."""
    hits = F.size(F.filter(toks_l, lambda x: x.isin(*STOPWORDS)))
    return hits / F.nullif(F.size(toks_l), F.lit(0))


_ASCII_LETTERS = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
#: Java regex \s == [ \t\n\x0B\f\r] (no UNICODE flag) — the translate
#: sets below must match the regexes they replaced char-for-char
_JAVA_WS = " \t\n\x0b\f\r"


def alpha_ratio(col: Column | str) -> Column:
    """Fraction of characters that are ASCII letters or spaces.

    ``translate`` (a per-char table lookup), not ``regexp_replace``: the
    quality score runs this over every character of the corpus, and the
    char-map is ~3x cheaper than the regex engine for a fixed ASCII
    class — same counts, byte-for-byte (measured on the curate
    headliners; the DuckDB oracles keep their regex form, values agree).
    """
    src = c(col)
    kept = F.length(src) - F.length(F.translate(src, _ASCII_LETTERS + " ", ""))
    return kept / F.nullif(F.length(src), F.lit(0))


def punct_ratio(col: Column | str) -> Column:
    src = c(col)
    punct = F.length(F.translate(src, _ASCII_LETTERS + "0123456789" + _JAVA_WS, ""))
    return punct / F.nullif(F.length(src), F.lit(0))


def quality_score_t(col: Column | str, toks_l: Column, target_len: int = 500) -> Column:
    """:func:`quality_score` given pre-lowercased tokens (see
    :func:`stopword_ratio_t` for why the ``_t`` variants exist)."""
    src = c(col)
    # coalesce BEFORE least: Spark's least() skips NULL arguments, so a
    # NULL text would get full length-saturation credit (scoring above
    # an empty doc) instead of zero
    len_sat = F.least(
        F.coalesce(F.length(src), F.lit(0)) / F.lit(float(target_len)), F.lit(1.0)
    )
    stop = F.least(F.coalesce(stopword_ratio_t(toks_l), F.lit(0.0)) * 5, F.lit(1.0))
    alpha = F.coalesce(alpha_ratio(src), F.lit(0.0))
    punct = F.coalesce(punct_ratio(src), F.lit(0.0))
    return 0.3 * len_sat + 0.3 * alpha + 0.2 * stop + 0.2 * (1 - punct)


def quality_score(col: Column | str, target_len: int = 500) -> Column:
    """Composite document quality in [0, 1]:
    0.3·length-saturation + 0.3·alpha-ratio + 0.2·stopword-presence +
    0.2·(1 − punct-ratio). Deterministic, SQL-expressible, and the usual
    shape of pretraining heuristic filters (length/punct/stopword)."""
    return quality_score_t(col, tokens(F.lower(c(col))), target_len)


def _marker_hits(toks: Column, markers: tuple[str, ...]) -> Column:
    ms = list(markers)
    return F.size(F.filter(toks, lambda x: x.isin(ms)))


def lang_scores_t(col: Column | str, toks_l: Column) -> dict[str, Column]:
    """:func:`lang_scores` given pre-lowercased tokens."""
    scores: dict[str, Column] = {
        lang: _marker_hits(toks_l, markers) for lang, markers in LANG_MARKERS.items()
    }
    # coalesce keeps the API uniform: marker scores are 0 on NULL text
    # (size of an empty filter), so zh must be 0 too, not NULL — a
    # consumer comparing scores would otherwise NULL-poison
    scores["zh"] = F.coalesce(F.regexp_count(c(col), F.lit(_CJK)), F.lit(0))
    return scores


def lang_scores(col: Column | str) -> dict[str, Column]:
    """Marker-word hit counts per language (+ CJK char count for zh)."""
    return lang_scores_t(col, tokens(F.lower(c(col))))


def lang_id_t(col: Column | str, toks_l: Column) -> Column:
    """:func:`lang_id` given pre-lowercased tokens (see
    :func:`stopword_ratio_t` for why the ``_t`` variants exist).

    The five scores are BOUND once (transform over a one-element array
    — the let spelling of web.main_content_blocks): spelled directly,
    the argmax CASE references each marker count ~5x (once per
    ``greatest`` inlining plus its own comparison) and Catalyst
    re-inlines a named Column at every reference, so each row paid ~19
    interpreted marker-filter passes over the token array instead of
    4 (r13)."""
    s = lang_scores_t(col, toks_l)
    packed = F.array(s["zh"], s["en"], s["de"], s["fr"], s["es"])

    def decide(a: Column) -> Column:
        zh, en, de, fr, es = (F.get(a, i) for i in range(5))
        best = F.greatest(en, de, fr, es)
        return (
            F.when(zh > 0, F.lit("zh"))
            .when(best == 0, F.lit("und"))
            .when(en == best, F.lit("en"))
            .when(de == best, F.lit("de"))
            .when(fr == best, F.lit("fr"))
            .otherwise(F.lit("es"))
        )

    return F.get(F.transform(F.array(packed), decide), 0)


def lang_id(col: Column | str) -> Column:
    """Best-guess language: any CJK chars → zh, else argmax marker hits
    with fixed priority order (en, de, fr, es) on ties; no hits → 'und'.

    A pure-expression heuristic (no model), the standard first-pass
    filter shape for pretraining corpora; exactly reproducible in SQL."""
    return lang_id_t(col, tokens(F.lower(c(col))))


# --------------------------------------------------------------------- #
# char-n-gram language ID (round 12 verdict item 5): Cavnar & Trenkle
# 1994, "N-Gram-Based Text Categorization" — per-language character
# trigram profiles derived from embedded function-word seeds, scored by
# profile-hit count.  ~29 languages vs the 5 of the stopword argmax
# above, which stays as the zero-score FALLBACK.
# --------------------------------------------------------------------- #

#: per-language seeds: the highest-frequency function words (for CJK /
#: Thai, the highest-frequency characters/particles), lowercase, space-
#: joined.  Profiles derive from these at call time — the seed IS the
#: model, so the DuckDB oracle replays classification from the same
#: constants.
LANG_SEEDS: dict[str, str] = {
    "en": ("the and of to in is you that it he was for on are as with his"
           " they at be this have from or one had by word but not what all"
           " were we when your can said there use an each which she do how"
           " their if will up other about out many then them these so some"),
    "de": ("der die und in den von zu das mit sich des auf für ist im dem"
           " nicht ein eine als auch es an werden aus er hat dass sie nach"
           " wird bei einer um am sind noch wie einem über einen so zum war"
           " haben nur oder aber vor zur bis mehr durch man sein wurde"),
    "fr": ("le de un être et à il avoir ne je son que se qui ce dans elle"
           " en du au pour pas sur faire plus dire me on mon lui nous comme"
           " mais pouvoir avec tout y aller voir bien où sans tu ou leur"
           " homme si deux mari moi vouloir te femme venir quand grand"),
    "es": ("el la de que y a en un ser se no haber por con su para como"
           " estar tener le lo todo pero más hacer o poder decir este ir"
           " otro ese si me ya ver porque dar cuando él muy sin vez mucho"
           " saber qué sobre mi alguno mismo yo también hasta año dos"),
    "pt": ("o a de que e do da em um para é com não uma os no se na por"
           " mais as dos como mas foi ao ele das tem à seu sua ou ser"
           " quando muito há nos já está eu também só pelo pela até isso"
           " ela entre era depois sem mesmo aos ter seus quem nas me esse"),
    "it": ("di e il la che è un a per in una sono mi si lo ma ha le con"
           " non io come più o questo qui hanno tutto della suo anche chi"
           " essere sei cosa ci molto bene sia stato fatto ho perché quando"
           " nel alla lei sua due anni tempo vita sempre fare ogni"),
    "nl": ("de het een van ik te dat die in en zij is niet op aan met als"
           " voor had er maar om hem dan zou of wat mijn men dit zo door"
           " over ze zich bij ook tot je mij uit der daar haar naar heb"
           " hoe heeft hebben deze nog wel moet worden hier andere"),
    "sv": ("och i att det som en på är av för med till den har de inte om"
           " ett han men var jag sig från vi så kan när år skulle honom"
           " hade där eller vad ska nu över än dig mig denna sedan under"),
    "da": ("og i at det en den til er som på de med han af for ikke der"
           " var mig sig men et har om vi min havde ham hun nu over da fra"
           " du ud sin dem os op man hans hvor eller hvad skal selv her"),
    "nb": ("og i det på som en til er at av for med han de ikke den har"
           " jeg om et men seg hun så var meg vi å kan hadde ble ut etter"
           " skal ved også nå dette noen bare kunne andre enn hva"),
    "fi": ("on ja ei se että hän oli mutta niin kuin kun hänen myös jos"
           " nyt mitä sitä tämä kanssa vain minä olla sen mukaan vielä"
           " joka sitten yli tai ovat paljon kaikki voi mikä siitä jo"),
    "pl": ("w i z na do to że się nie jest jak po co tak o ma być ale od"
           " przez już tym czy tylko przy jego bardzo ich dla było jej"
           " może przed które mnie kiedy nawet czy jestem był ten"),
    "cs": ("a v na se je že s z do o k i by ale jako za po od pro tak"
           " bylo jsem jeho která být této však již pak podle mezi dva"
           " před nebo své tím jsou byla může při ještě až kde"),
    "ro": ("de a în și la cu pe un o este nu care mai din sau dacă pentru"
           " sunt fost lui după fi când două fie spre către acest cea"
           " prin asupra între fără unde cum atât ceva fiecare"),
    "hu": ("a az és hogy nem is egy ez van de meg volt ha már csak mint"
           " el még azt vagy ki mert így lesz nagy ő mikor ezt kell"
           " lehet minden más most itt való olyan azonban"),
    "tr": ("bir ve bu da ne için o ben de çok ama gibi daha var mi ki ile"
           " sen onun kadar sonra en bana beni diye şey yok her iki"
           " kendi onu bunu ona biz siz mı ise değil"),
    "id": ("yang dan di itu dengan ini untuk dari dalam tidak akan pada"
           " juga ke karena ada mereka saya kita anda bisa sudah atau"
           " telah oleh saat harus seperti lebih banyak hanya tahun"),
    "vi": ("của và các có trong được là cho không những với người này để"
           " đã trên tại một khi đến từ ra như về sau nhiều hơn thì"
           " cũng sẽ đó bị làm theo nếu vào còn"),
    "ru": ("и в не на я быть он с что а по это она этот к но они мы как"
           " из у который то за свой весь год от так о для ты же все"
           " тот мочь вы человек такой его сказать только или еще"),
    "uk": ("і в не на я що він з до як а це по але його вона так від за"
           " був для ми або коли вже є ще тільки може бути цей під"
           " після між більш немає дуже них було"),
    "el": ("και το να του η της με τον την που δεν από στο για είναι τα"
           " ο οι σε αυτό θα ως αν μου κι στη είχε ήταν όπως αλλά"
           " μας πιο ένα μια κατά μετά χωρίς"),
    "ar": ("في من على أن إلى عن التي هذا مع كان لا ما هو أو كل بعد قد"
           " الذي وقد كما لم بين ذلك هذه عند غير حتى إذا ثم منذ حيث"),
    "he": ("של את על לא הוא זה אני עם כל אם היא גם אבל יש מה או כי אחד"
           " הם כמו רק היה אל מי עוד כבר שלו אין לו בין אחרי"),
    "hi": ("के है में की एक को से पर यह और हैं था कि नहीं भी लिए गया कर"
           " वह ने अपने हो इस किया तो ही कुछ साथ बाद करने वाले"),
    "th": ("ที่ การ และ ใน ของ มี ให้ ได้ ไป มา จะ ไม่ ว่า เป็น กับ คน แต่ นี้"
           " เขา อยู่ ก็ แล้ว ต้อง เมื่อ ความ จาก ถึง หรือ"),
    # unsegmented scripts: seeds are RUNNING text (no artificial spaces),
    # so profile trigrams match real running prose
    "ja": ("これは日本語のテキストです。彼は本を読んでいます。私たちは学校に"
           "行きました。それについて話しているということです。そのときには"
           "なっていましたが、このようにしてできるのです。をしていたのである。"),
    "ko": ("이 있 하 것 들 그 되 수 보 않 없 나 사람 주 아니 등 같 우리 때"
           " 한 지 대하 오 말 일 그렇 위하 때문 그것 두 어떤"),
    "zh": ("这是一个中文测试文本。我们的人民在这里生活和工作。他说他不知道这个"
           "问题的答案。因为这样的情况已经发生了很多次。可以说是非常重要的一个"
           "部分。他们都有自己的想法和要求。"),
}


def lang_ngram_profiles(n: int = 3, top: int = 100) -> dict[str, tuple[str, ...]]:
    """Per-language top-``top`` character ``n``-grams of the padded
    seed text, ranked (count DESC, gram ASC) — the deterministic
    profile both engines classify against."""
    out: dict[str, tuple[str, ...]] = {}
    for lang, seed in LANG_SEEDS.items():
        s = " " + " ".join(seed.split()) + " "
        counts: dict[str, int] = {}
        for i in range(len(s) - n + 1):
            g = s[i : i + n]
            counts[g] = counts.get(g, 0) + 1
        ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:top]
        out[lang] = tuple(g for g, _ in ranked)
    return out


#: classification reads at most this many leading characters — language
#: is a whole-document property; scoring 400 chars instead of 400 KB
#: keeps the per-row cost flat regardless of document size (CLD-family
#: practice)
LANG_NGRAM_PREFIX = 400


def lang_id_ngram(col: Column | str, prefix_chars: int = LANG_NGRAM_PREFIX) -> Column:
    """Char-trigram profile language ID over ~29 languages with the
    5-language stopword argmax (:func:`lang_id`) as the zero-score
    fallback.

    Mechanics (mirrored verbatim by the DuckDB oracle of
    ``lang_id_counts``): lowercase the first ``prefix_chars`` chars,
    collapse ASCII whitespace runs to one space, trim; score each
    language by the number of trigram POSITIONS whose gram is in its
    profile; winner by (score DESC, lang ASC); no hits at all → fall
    back.  One Arrow-batched pandas_udf — a per-row map with a
    broadcast-size profile dict, zero shuffle, the shape that survives
    100 TB (a profile-table JOIN would shuffle the corpus; a literal
    CASE would blow the Janino 64 KB codegen limit like the PSL
    expression did).  Caveat: Python ``str.lower`` and SQL ``lower``
    can disagree on exotic one-to-many case maps (İ); the corpus
    convention is already-NFC text where both agree."""
    import re as _re

    prof = lang_ngram_profiles()
    gram_langs: dict[str, tuple[str, ...]] = {}
    for lang in sorted(prof):
        for g in prof[lang]:
            gram_langs[g] = gram_langs.get(g, ()) + (lang,)
    ws = _re.compile(r"[ \t\n\r\x0b\x0c]+")

    @F.pandas_udf("string")
    def guess(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            s = ws.sub(" ", str(t)[:prefix_chars].lower()).strip(" ")
            scores: dict[str, int] = {}
            for i in range(len(s) - 2):
                for lang in gram_langs.get(s[i : i + 3], ()):
                    scores[lang] = scores.get(lang, 0) + 1
            if not scores:
                out.append(None)
                continue
            out.append(min(scores.items(), key=lambda kv: (-kv[1], kv[0]))[0])
        return pd.Series(out)

    return F.coalesce(guess(c(col)), lang_id(col))


def winnow_fingerprints(
    df,
    text_col: str,
    out_col: str = "fps",
    k: int = 5,
    w: int = 4,
    base: int = 257,
    mod: int = (1 << 31) - 1,
):
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003): per document, the sorted distinct minima of every
    ``w``-window over the polynomial (Rabin-Karp) rolling hashes
    ``h(i) = (c[i]·B^{k-1} + … + c[i+k-1]) mod M`` of its character
    k-grams. Adds ``out_col`` (``array<bigint>``) to ``df``.

    The standard local-fingerprinting guarantee: any shared substring of
    length >= ``w + k - 1`` between two documents yields at least one
    shared fingerprint, at ~1/w the footprint of the full hash stream.
    Documents with fewer than ``w`` grams (but at least one) keep their
    global minimum, so every non-trivial doc has >= 1 fingerprint.

    This is a DataFrame transform, not a Column function, on purpose:
    the codes → gram-hashes → window-minima stages each live in their
    own projection with multiple downstream references, so Catalyst's
    CollapseProject cannot re-inline a stage into the next stage's
    lambda — inlined, each array would be rebuilt per *element* of its
    consumer, turning an O(n·(k+w)) doc into O(n²·k). All stages are
    pure expressions (no Python, no shuffle): still one scan per doc,
    ``mod < 2^31`` keeps ``acc·B + c`` inside BIGINT under ANSI
    overflow checking.
    """
    src = c(text_col)
    n = F.length(src)
    empty = F.array().cast("array<bigint>")
    # split('') materializes the char array in ONE pass — the previous
    # per-index substr(i, 1) form made UTF8String re-scan from byte 0 to
    # find char i, turning the codes stage O(n²) bytes per document
    # (values are identical: ascii() of each char either way)
    codes = F.when(
        n >= k,
        F.transform(F.split(src, ""), lambda ch: F.ascii(ch).cast("bigint")),
    ).otherwise(empty)
    s1 = df.withColumn("__codes", codes)

    nc = F.size(F.col("__codes"))
    hashes = F.when(
        nc >= k,
        F.transform(
            F.sequence(F.lit(1), nc - (k - 1)),
            lambda i: F.aggregate(
                F.slice(F.col("__codes"), i, k),
                F.lit(0).cast("bigint"),
                lambda acc, ch: (acc * base + ch) % mod,
            ),
        ),
    ).otherwise(empty)
    s2 = s1.withColumn("__rh", hashes).drop("__codes")

    nh = F.size(F.col("__rh"))
    mins = F.transform(
        F.sequence(F.lit(1), nh - (w - 1)),
        lambda i: F.array_min(F.slice(F.col("__rh"), i, w)),
    )
    sel = (
        F.when(nh >= w, mins)
        .when(nh > 0, F.array(F.array_min(F.col("__rh"))))
        .otherwise(empty)
    )
    return s2.withColumn(out_col, F.array_sort(F.array_distinct(sel))).drop("__rh")


def tfidf_top_terms(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    top: int = 3,
):
    """Top-``top`` TF-IDF terms per document (smoothed idf,
    ``ln((N+1)/(df+1)) + 1`` — the scikit-learn convention).

    Returns ``(id_col, term, tf, df_t, tfidf, rank)``, ``rank`` ordered
    by descending tfidf with term as the deterministic tie-break.

    Plan shape (the part that must survive 100 TB): term frequencies are
    one explode + keyed groupBy with map-side partial aggregation (hot
    tokens combine before the shuffle); document frequency is a
    ``count(*)`` window over the term key of the *already aggregated*
    (doc, term) rows — no second pass over the corpus and no join
    against a vocabulary table; the corpus size ``N`` is a 1-row
    broadcast. Three keyed shuffles total ((doc,term) agg → term window
    → per-doc top-k), each on a key whose cardinality grows with the
    data, so no stage funnels to one task.
    """
    from pyspark.sql import Window

    toks = tokens(F.lower(c(text_col)))
    tf = (
        df.select(c(id_col).alias("__id"), F.explode_outer(toks).alias("term"))
        .filter(F.col("term").isNotNull())
        .groupBy("__id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    n_docs = F.broadcast(df.agg(F.count(F.lit(1)).cast("bigint").alias("__n")))
    scored = (
        tf.withColumn(
            "df_t", F.count(F.lit(1)).over(Window.partitionBy("term")).cast("bigint")
        )
        .crossJoin(n_docs)
        .withColumn(
            "tfidf",
            F.col("tf")
            * (F.log((F.col("__n") + F.lit(1.0)) / (F.col("df_t") + F.lit(1.0))) + F.lit(1.0)),
        )
        .drop("__n")
    )
    w = Window.partitionBy("__id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= top)
        .select(F.col("__id").alias(id_col), "term", "tf", "df_t", "tfidf", "rank")
    )


def fingerprint(col: Column | str, hash_fn: str = "md5") -> Column:
    """Deterministic document fingerprint: hash of the casefolded,
    whitespace-collapsed text — the normalize-then-hash shape of exact
    dedup keys. ``md5`` is bit-identical across engines (oracle parity);
    ``xxhash64`` is the fast JVM path (~2× quicker on long documents)
    whose GROUPS are identical, so dedup keep-sets agree either way."""
    norm = F.regexp_replace(F.lower(F.trim(c(col))), r"\s+", " ")
    if hash_fn == "xxhash64":
        # xxhash64(NULL) returns the SEED, not NULL (it skips null
        # fields) — explicitly propagate NULL so NULL-text rows keep the
        # md5 path's "no fingerprint" semantics (dedup must not lump them)
        return F.when(norm.isNotNull(), F.xxhash64(norm))
    if hash_fn == "md5":
        return F.md5(norm)
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def bm25_topk(
    df,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    top: int = 20,
):
    """Okapi BM25 ranking of documents against a small query-term set —
    the retrieval primitive behind "find training docs matching an eval
    prompt" decontamination sweeps and corpus search.

    Returns the ``top`` documents as ``(id_col, n_terms, score)``,
    ordered by descending score with ``id_col`` as the deterministic
    tie-break. ``idf = ln((N - df + 0.5) / (df + 0.5) + 1)`` (the
    standard non-negative Robertson-Spärck Jones form).

    Plan shape at 100 TB: ONE tokenization pass over the corpus
    projects each document down to ``(id, doc length, its query-term
    tokens)`` — the query-term filter runs inside that projection, so
    everything downstream is bounded by query-term hits, not corpus
    size. That narrow base is materialized (localCheckpoint — this
    function EXECUTES it eagerly on call) because it has three
    consumers: the postings aggregation, the per-term document
    frequencies (≤|Q| rows, broadcast back), and the corpus stats
    (1-row broadcast cross join); without the materialization each
    consumer re-ran the full corpus scan + tokenization (the r13
    measurement: three scans per execution). The final top-k is a
    TakeOrdered (per-partition heads, no global sort).

    localCheckpoint tradeoffs (r13 advice): calling this function runs
    a Spark job eagerly even if the returned DataFrame is never
    executed, and localCheckpoint is not fault-tolerant — an executor
    loss makes the checkpointed partitions unrecoverable and the query
    must be rerun. On long cluster runs prefer persisting the narrow
    base to reliable storage and scoring from that table instead."""
    terms = [t.lower() for t in query_terms]
    toks = tokens(F.lower(c(text_col)))
    base = df.select(
        c(id_col).alias("__id"),
        F.size(toks).alias("dl"),
        F.filter(toks, lambda t: t.isin(terms)).alias("__qt"),
    ).localCheckpoint()
    postings = (
        base.select("__id", "dl", F.explode("__qt").alias("term"))
        .groupBy("__id", "dl", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    dfs = F.broadcast(
        postings.groupBy("term").agg(
            F.count(F.lit(1)).cast("bigint").alias("df_t")
        )
    )
    stats = F.broadcast(
        base.agg(
            F.count(F.lit(1)).cast("bigint").alias("__n"),
            F.avg("dl").alias("__avgdl"),
        )
    )
    idf = F.log(
        (F.col("__n") - F.col("df_t") + F.lit(0.5))
        / (F.col("df_t") + F.lit(0.5))
        + F.lit(1.0)
    )
    tf_part = (
        F.col("tf") * F.lit(k1 + 1.0)
        / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("__avgdl"))
        )
    )
    return (
        postings.join(dfs, "term")
        .crossJoin(stats)
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_terms"),
            F.sum(idf * tf_part).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("__id"))
        .limit(top)
        .select(F.col("__id").alias(id_col), "n_terms", "score")
    )


def vocabulary_overlap(
    df,
    group_col: str = "source",
    text_col: str = "text",
):
    """Pairwise vocabulary Jaccard between corpus groups (sources,
    shards, crawls): which slices of a training mix duplicate each
    other's token space — the cheap corpus-level cousin of document
    near-dup, used to spot redundant sources before paying for
    doc-level dedup.

    Returns one row per unordered group pair WITH at least one shared
    term: ``(src_a, src_b, n_common, n_a, n_b, jaccard)``. Fully
    disjoint pairs (jaccard 0) are absent — the pair list materializes
    from the term self-join, so "no shared terms" produces no row
    rather than a zero row; treat a missing pair as jaccard 0. Groups
    with a NULL key are not reported.

    100 TB shape: the corpus collapses to its distinct (group, term)
    vocabulary first — one term-keyed shuffle whose output is bounded
    by vocabulary size, not corpus size. The pair join is a self-join
    ON TERM of that vocabulary (per-term fan-out bounded by
    |groups|², independent of corpus size), and per-group vocabulary
    sizes are a |groups|-row broadcast."""
    vocab = (
        df.select(
            F.col(group_col).alias("src"),
            F.explode(tokens(F.lower(c(text_col)))).alias("term"),
        )
        .distinct()
    )
    sizes = F.broadcast(
        vocab.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    a, b = vocab.alias("a"), vocab.alias("b")
    inter = (
        a.join(b, (F.col("a.term") == F.col("b.term"))
               & (F.col("a.src") < F.col("b.src")))
        .groupBy(F.col("a.src").alias("src_a"), F.col("b.src").alias("src_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    return (
        inter.join(sizes.withColumnRenamed("src", "src_a")
                   .withColumnRenamed("n", "n_a"), "src_a")
        .join(sizes.withColumnRenamed("src", "src_b")
              .withColumnRenamed("n", "n_b"), "src_b")
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
        )
        .select("src_a", "src_b", "n_common", "n_a", "n_b", "jaccard")
    )


#: ordered (pattern, replacement) rewrite rules for :func:`normalize_text`
#: — the C4/CCNet-style unicode cleanup applied before any tokenization
#: or hashing. Order matters (line endings first, whitespace collapse
#: last). Patterns use only character classes and quantifiers so the
#: Java (Spark) and RE2 (DuckDB oracle) engines agree byte-for-byte;
#: the unicode punctuation is written as literal characters, not
#: escapes, so both engines see identical bytes.
NORMALIZE_RULES: tuple[tuple[str, str], ...] = (
    (r"\r\n?", "\n"),                 # CRLF / bare CR -> LF
    ("[‘’‚‛]", "'"),      # curly single quotes
    ("[“”„‟]", '"'),      # curly double quotes
    ("[–—―]", "-"),            # en/em/horizontal-bar dash
    ("…", "..."),                 # ellipsis char
    ("[  -   　]", " "),  # exotic spaces
    ("[​‌‍﻿­]", ""),  # zero-width / soft hyphen
    # control chars; \t (x09) and \n (x0a) deliberately excluded. Raw
    # string: Java and RE2 both interpret the \xNN escapes, and the SQL
    # twin must not embed literal NUL bytes in query text
    (r"[\x00-\x08\x0b-\x1f\x7f]", ""),
    ("[ \t]+", " "),                   # collapse runs of spaces/tabs
    (" ?\n ?", "\n"),                  # strip space around line breaks
    ("\n{3,}", "\n\n"),                # squeeze blank-line runs
    # edge trim as explicit rules, NOT engine trim(): Spark's and
    # DuckDB's trim strip only spaces while Python's strip takes all
    # whitespace — anchored classes make all three engines agree (only
    # space/tab/LF can remain at the edges after the rules above)
    ("^[ \t\n]+", ""),
    ("[ \t\n]+$", ""),
)


def normalize_text(col: Column | str) -> Column:
    """C4/CCNet-style text normalization: canonicalize line endings,
    straighten curly quotes/dashes/ellipses, map exotic unicode spaces
    to ASCII space, drop zero-width and control characters, collapse
    whitespace runs, and trim. The standard pre-pass before
    tokenization, n-gram hashing, or dedup — two visually identical
    documents that differ only in quote style or NBSP usage hash
    identically AFTER this and spuriously survive dedup BEFORE it.

    Pure chained ``regexp_replace`` — JVM-side, codegen, shuffle-free,
    map-only (the posture of :func:`~hobbes_spark.functions.curation.redact_pii`).
    Patterns are shared via :data:`NORMALIZE_RULES` with the DuckDB
    oracle twin; NULL propagates (a missing document stays missing
    rather than becoming an empty string)."""
    out = c(col)
    for pat, rep in NORMALIZE_RULES:
        out = F.regexp_replace(out, pat, rep)
    return out


def unicode_normalize(col: Column | str, form: str = "NFC") -> Column:
    """Unicode normalization to any of the four standard forms
    (round 9). NFC is the dedup canonicalization
    (:func:`nfc_normalize`); NFKC is what tokenizer preprocessing
    pipelines apply (SentencePiece's default normalizer family):
    compatibility characters fold to their plain equivalents —
    ligatures split, fullwidth forms narrow, superscripts digitize —
    so the vocabulary never spends merges on presentation variants.
    Arrow-batched pandas UDF (composition/compatibility mappings are
    table-driven, inexpressible in regex); NULL propagates."""
    import unicodedata

    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(
            f"unicode_normalize: form must be NFC/NFD/NFKC/NFKD, got {form!r}"
        )
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _norm(s):
        return s.map(
            lambda t: unicodedata.normalize(form, t) if t is not None else None
        )

    return _norm(c(col))


def nfc_normalize(col: Column | str) -> Column:
    """Unicode canonical composition (NFC) — the codepoint-level twin
    of :func:`normalize_text` (round 9): ``e`` + COMBINING ACUTE and
    the precomposed ``é`` are DIFFERENT byte strings that render
    identically, so exact/MinHash dedup, URL keys and n-gram hashes all
    spuriously miss across the composed/decomposed boundary until the
    corpus is NFC'd (crawls mix both: mac filesystems emit NFD, most
    web content NFC). Delegates to :func:`unicode_normalize` (the
    Arrow pandas_udf — composition is table-driven, inexpressible in
    regex); DuckDB replays it via ``nfc_normalize`` — the oracle twin
    for `nfc_docs`."""
    return unicode_normalize(col, "NFC")


# --------------------------------------------------------------------- #
# Code-likeness router (round 11): a mixed crawl interleaves prose and
# source code, and the two families take DIFFERENT curation paths
# (prose -> quality batteries + near-dup; code -> line-dedup +
# license/PII scans).  This is the cheap structural router — four
# surface features over one pass of pure Column regex, a linear score,
# a threshold — NOT a learned classifier (classify.py holds those).
# Every feature is replayable in the DuckDB oracle with the same
# shared patterns.
# --------------------------------------------------------------------- #

#: patterns shared verbatim with the oracle (RE2-safe)
CODE_SYMBOL_RE = r"[{}()\[\];=<>]"
CODE_KEYWORD_RE = (
    r"(?m)(^|[^A-Za-z0-9_])(def |class |import |return |function |"
    r"const |let |void |#include|public |printf|println|lambda )"
)
CODE_INDENT_LINE_RE = r"(?m)^(    |\t)"
CODE_EOL_RE = r"(?m)[;{}]$"

#: score weights + threshold (hand-set on the structural features —
#: symbols and code keywords dominate; indentation and ;/{ line ends
#: confirm).  Deliberately simple integers so the oracle's double math
#: reproduces bit-for-bit.
CODE_SCORE_THRESHOLD = 0.5


def code_likeness(col: Column | str) -> dict[str, Column]:
    """Structural code-likeness features + routing verdict for a text
    column: ``symbol_frac`` (code symbols per char), ``keyword_hits``
    (code-keyword occurrences per line), ``indent_frac`` (4-space/tab
    lines), ``eol_frac`` (lines ending ``;``/``{``/``}``), ``score``
    (the weighted sum, 4-dp half-up) and ``is_code`` (score past the
    threshold).  One map-only pass of JVM regex; fractions divide by
    max(chars,1)/max(lines,1) so empty text scores 0, not NULL."""
    t = c(col)
    n_chars = F.greatest(F.length(t), F.lit(1)).cast("double")
    lines = F.split(t, "\n")
    n_lines = F.greatest(F.size(lines), F.lit(1)).cast("double")
    symbol_frac = F.size(F.regexp_extract_all(t, F.lit(CODE_SYMBOL_RE), 0)) / n_chars
    keyword_hits = F.size(F.regexp_extract_all(t, F.lit(CODE_KEYWORD_RE), 0)) / n_lines
    indent_frac = F.size(F.regexp_extract_all(t, F.lit(CODE_INDENT_LINE_RE), 0)) / n_lines
    eol_frac = F.size(F.regexp_extract_all(t, F.lit(CODE_EOL_RE), 0)) / n_lines

    def r4(x):
        return F.floor(x * F.lit(10_000.0) + F.lit(0.5)) / F.lit(10_000.0)

    score = r4(
        symbol_frac * F.lit(4.0) + keyword_hits * F.lit(1.0)
        + indent_frac * F.lit(1.0) + eol_frac * F.lit(1.0)
    )
    return {
        "symbol_frac": r4(symbol_frac),
        "keyword_hits": r4(keyword_hits),
        "indent_frac": r4(indent_frac),
        "eol_frac": r4(eol_frac),
        "score": score,
        "is_code": score > F.lit(CODE_SCORE_THRESHOLD),
    }
