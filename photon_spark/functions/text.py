"""Text analysis operators over a document corpus.

Everything is built from pyspark.sql.functions only — no Python UDFs — so
the plans stay inside whole-stage codegen and scale linearly with executors.
Oracle-parity note: each operator has an exact DuckDB-SQL equivalent (see
photon_spark/queries_northstar.py); hash-sensitive numeric outputs are
rounded identically on both sides.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from photon_spark.functions._util import spread

#: Small multilingual stopword marker sets for the language-ID heuristic.
#: Deliberately tiny + deterministic (the reference's analogue is the
#: "textanalysis" payload in its chatter fixture, common.clj:22-27).
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "los"],
    "fr": ["le", "la", "les", "et", "des"],
    "de": ["der", "die", "und", "das", "ist"],
}

EN_STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]


def tokens(col) -> Column:
    """Whitespace tokenization; empty string → empty array (not [''])."""
    c = F.col(col) if isinstance(col, str) else col
    trimmed = F.trim(c)
    return F.when(trimmed == "", F.array().cast("array<string>")) \
            .otherwise(F.split(trimmed, r"\s+"))


def token_count(col) -> Column:
    return F.size(tokens(col)).cast("long")


def bpe_ish_token_count(col) -> Column:
    """Token count under a BPE-ish regex: runs of word chars count
    ceil(len/4) subword units, each punctuation run counts 1. A cheap,
    deterministic stand-in for a real tokenizer's token count."""
    c = F.col(col) if isinstance(col, str) else col
    word_chars = F.length(F.regexp_replace(c, r"[^A-Za-z0-9]", ""))
    punct_runs = F.size(F.filter(
        F.split(c, r"[A-Za-z0-9\s]+"), lambda s: s != ""))
    return (F.ceil(word_chars / F.lit(4.0)) + punct_runs).cast("long")


def char_classes(col) -> dict[str, Column]:
    """Counts of character classes used by the quality score."""
    c = F.col(col) if isinstance(col, str) else col
    return {
        "n_chars": F.length(c).cast("long"),
        "n_alpha": F.length(F.regexp_replace(c, r"[^A-Za-z]", "")).cast("long"),
        "n_digit": F.length(F.regexp_replace(c, r"[^0-9]", "")).cast("long"),
        "n_punct": F.length(F.regexp_replace(c, r"[^.,;:!?'\"()-]", "")).cast("long"),
        "n_space": F.length(F.regexp_replace(c, r"[^ ]", "")).cast("long"),
    }


def stopword_ratio_from_tokens(lt, stopwords: list[str] | None = None) -> Column:
    """Fraction of (already lowercased) tokens that are stopwords; 0.0 for
    empty. Pass a materialized token-array attribute — higher-order
    functions run interpreted, so an inlined tokenizer would re-split per
    reference."""
    lt = F.col(lt) if isinstance(lt, str) else lt
    sw = F.array(*[F.lit(w) for w in (stopwords or EN_STOPWORDS)])
    n = F.size(lt)
    hits = F.size(F.filter(lt, lambda t: F.array_contains(sw, t)))
    return F.when(n == 0, F.lit(0.0)).otherwise(hits / n)


def stopword_ratio(col, stopwords: list[str] | None = None) -> Column:
    """Fraction of tokens that are (lowercased) stopwords; 0.0 for empty."""
    return stopword_ratio_from_tokens(
        F.transform(tokens(col), lambda t: F.lower(t)), stopwords)


def quality_score(col) -> Column:
    """Deterministic [0,1] quality score: rewards alpha density and a sane
    token-length distribution, penalizes punctuation/digit overload.

    score = 0.5*alpha_ratio + 0.3*clip(mean_token_len/8) +
            0.2*(1 - min(1, punct_ratio*5))
    """
    cc = char_classes(col)
    n = F.greatest(cc["n_chars"], F.lit(1))
    alpha_ratio = cc["n_alpha"] / n
    punct_ratio = cc["n_punct"] / n
    tc = F.greatest(token_count(col), F.lit(1))
    mean_tok = cc["n_alpha"] / tc
    return (F.lit(0.5) * alpha_ratio
            + F.lit(0.3) * F.least(mean_tok / F.lit(8.0), F.lit(1.0))
            + F.lit(0.2) * (F.lit(1.0) - F.least(punct_ratio * 5, F.lit(1.0))))


def lang_id_from_tokens(lt) -> Column:
    """Stopword-marker language ID from a lowercased token-array attribute:
    argmax of per-language marker hits, 'und' when no marker matches. Ties
    break by language code order (deterministic)."""
    toks = F.col(lt) if isinstance(lt, str) else lt
    expr = F.lit("und")
    best = F.lit(0)
    # Build a chain best/argmax with strict '>' so earlier languages win ties.
    hit_cols = {}
    for lang in sorted(LANG_MARKERS):
        markers = F.array(*[F.lit(w) for w in LANG_MARKERS[lang]])
        hit_cols[lang] = F.size(F.filter(toks, lambda t: F.array_contains(markers, t)))
    for lang in sorted(LANG_MARKERS):
        hits = hit_cols[lang]
        expr = F.when(hits > best, F.lit(lang)).otherwise(expr)
        best = F.when(hits > best, hits).otherwise(best)
    return expr


def normalize_text(col) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse whitespace,
    strip leading/trailing space."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def fingerprint(col) -> Column:
    """Document fingerprint = md5 of the normalized text (md5 is identical
    across Spark/DuckDB, making the fingerprint engine-portable)."""
    return F.md5(normalize_text(col))


def text_profile_catalyst(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Per-document profile, pure-Catalyst form: counts, ratios, quality,
    lang, fingerprint.

    Two chained projections over the scan — no shuffle: the first
    materializes the lowercased token array once, the second derives every
    token-based metric from that attribute (the char-class metrics are plain
    regexp/length codegen over the text column). Kept as the no-Python
    reference implementation and the cross-check for :func:`text_profile`
    (tests pin value equality)."""
    cc = char_classes(text_col)
    base = spread(df).select(
        df["*"],
        F.transform(tokens(text_col), lambda t: F.lower(t)).alias("_lt"))
    return base.select(
        F.col(id_col),
        cc["n_chars"].alias("n_chars"),
        F.size("_lt").cast("long").alias("n_tokens"),
        bpe_ish_token_count(text_col).alias("n_bpe_tokens"),
        F.round(cc["n_alpha"] / F.greatest(cc["n_chars"], F.lit(1)), 6)
         .alias("alpha_ratio"),
        F.round(stopword_ratio_from_tokens("_lt"), 6).alias("stopword_ratio"),
        F.round(quality_score(text_col), 6).alias("quality"),
        lang_id_from_tokens("_lt").alias("lang_pred"),
        fingerprint(text_col).alias("fingerprint"),
    )


def text_profile(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Per-document profile as ONE Arrow-batched map pass (no shuffle).

    Value-identical to :func:`text_profile_catalyst` (pinned in tests) but
    one compiled-regex pass per document instead of ~10 interpreted
    column expressions. Parity rules that make it bit-exact with both the
    Catalyst form and the DuckDB oracle:

    - character classes use Java's ASCII ``\\s`` (explicit class, not
      Python's unicode ``\\s``);
    - tokenization trims SPACES ONLY before the split, exactly like the
      Catalyst form (Spark ``trim`` and DuckDB ``trim`` both strip the
      space character, nothing else) — a leading tab/newline therefore
      yields the same leading empty token on every engine;
    - ratios are one float64 division, quality is the same left-associated
      formula, and rounding is decimal HALF_UP (what Spark's ``round`` does
      via BigDecimal) — Python's builtin half-even ``round`` would diverge
      on exact 7-digit boundaries.
    """
    import hashlib
    import math
    import re
    from decimal import ROUND_HALF_UP, Decimal

    ws = re.compile(r"[ \t\n\x0b\f\r]+")
    non_alnum = re.compile(r"[^A-Za-z0-9]")
    non_alpha = re.compile(r"[^A-Za-z]")
    non_punct = re.compile(r"[^.,;:!?'\"()-]")
    punct_split = re.compile(r"[A-Za-z0-9 \t\n\x0b\f\r]+")
    stop = frozenset(EN_STOPWORDS)
    markers = [(lang, frozenset(LANG_MARKERS[lang]))
               for lang in sorted(LANG_MARKERS)]
    q6 = Decimal("0.000001")

    def r6(x: float) -> float:
        # Decimal(repr(x)), not Decimal(x): Spark's round goes through
        # BigDecimal.valueOf = Double.toString = the SHORTEST decimal repr
        # (so 0.77031249999...944 rounds as "0.7703125" → 0.770313), and
        # Python's repr implements the same shortest-round-trip contract.
        return float(Decimal(repr(x)).quantize(q6, rounding=ROUND_HALF_UP))

    def run(batches):
        import pandas as pd
        for pdf in batches:
            rows = []
            for rec in pdf.itertuples(index=False):
                t = getattr(rec, text_col) or ""
                doc_id = getattr(rec, id_col)
                n_chars = len(t)
                n_alpha = len(non_alpha.sub("", t))
                n_punct = len(non_punct.sub("", t))
                trimmed = t.strip(" ")
                toks = ws.split(trimmed) if trimmed else []
                lt = [x.lower() for x in toks]
                n_tokens = len(lt)
                n_bpe = (math.ceil(len(non_alnum.sub("", t)) / 4.0)
                         + sum(1 for s in punct_split.split(t) if s != ""))
                nc = max(n_chars, 1)
                alpha_ratio = n_alpha / nc
                sw_ratio = (0.0 if n_tokens == 0
                            else sum(1 for x in lt if x in stop) / n_tokens)
                mean_tok = n_alpha / max(n_tokens, 1)
                quality = (0.5 * alpha_ratio
                           + 0.3 * min(mean_tok / 8.0, 1.0)
                           + 0.2 * (1.0 - min((n_punct / nc) * 5, 1.0)))
                best_lang, best = "und", 0
                for lang, mk in markers:
                    hits = sum(1 for x in lt if x in mk)
                    if hits > best:
                        best_lang, best = lang, hits
                # after ws.sub the only whitespace left is spaces, so a
                # spaces-only strip == Catalyst trim(regexp_replace(..))
                norm = ws.sub(" ", t.lower()).strip(" ")
                fp = hashlib.md5(norm.encode("utf-8")).hexdigest()
                rows.append((doc_id, n_chars, n_tokens, n_bpe,
                             r6(alpha_ratio), r6(sw_ratio), r6(quality),
                             best_lang, fp))
            yield pd.DataFrame(rows, columns=[
                id_col, "n_chars", "n_tokens", "n_bpe_tokens", "alpha_ratio",
                "stopword_ratio", "quality", "lang_pred", "fingerprint"])

    return df.select(id_col, text_col).mapInPandas(
        run,
        schema=(f"{id_col} long, n_chars long, n_tokens long, "
                "n_bpe_tokens long, alpha_ratio double, "
                "stopword_ratio double, quality double, lang_pred string, "
                "fingerprint string"))
