"""Pair-quality metadata operators (SURVEY.md §2.3 A9, §2.7 C12-C17).

Re-expresses /root/reference/euaa_사례/sentences/metadata_generator.py's
pandas ``.apply`` stages as Arrow-vectorized kernels:

  * C12 punctuation extraction (:92-96) — terminal '.' plus occurrences
    of the symbol class, as an ordered list;
  * C13 numeric-token extraction (:125-159) — an ORDERED regex cascade
    (thousands-separated, decimals, ranges, ordinals, bare ints) with
    sequential match consumption: each pattern extracts then MASKS its
    matches so later patterns can't re-match inside them (the reference
    consumes via ``pat.sub``);
  * C14 number-word mapping (:132-140, 162-203) — en number words /
    ordinals / month names to digit strings, hyphen-split prefix match;
  * A9 Counter algebra (:206-271) — MULTISET intersect/subtract (Spark's
    array_intersect dedups, so this stays in the kernel);
  * C16 special-symbol comparison — two layers: the engine-portable
    multiset projection (extract_symbols + counter_diff, value-exact vs
    DuckDB via the pair_symbols query) and the faithful
    compare_special_symbols verdict (:354-372, NFKC + wide allowlist +
    digit redemption) as ``symbol_status``;
  * C17 english-as-korean row classification (:383-421) — faithful
    check_only_eng_korean_sentence semantics (``pair_class``).

The kernel functions are pure Python on lists (usable by oracles/tests);
``pair_metadata`` wires them into one Arrow-batched pandas UDF returning
a struct column — one Python pass per batch, not per row.
"""

from __future__ import annotations

import re
import unicodedata
from collections import Counter

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

RE_PUNCT = re.compile(r"[!?:;%\"`~…]")
RE_TERMINAL_DOT = re.compile(r"\.$")

# C13 cascade — order is the contract (metadata_generator.py:125-131);
# the ordinal pattern keeps the reference's leading \b and IGNORECASE,
# and the appended token is the FULL match ('2nd', suffix included) —
# the reference appends m.group(0), not the captured digits
NUM_PATTERNS = [
    re.compile(r"\d{1,3}(?:,\d{3})+(?:\.\d+)?"),         # 1,234 / 12,345.6
    re.compile(r"\d+\.\d+"),                             # 3.5
    re.compile(r"\d+-\d+"),                              # 2-4 (ranges)
    re.compile(r"\b\d+(?:st|nd|rd|th)\b", re.IGNORECASE),  # 1st 2ND
    re.compile(r"\d+"),                                  # bare ints
]

# C14 — the reference's FULL English number-word table, verbatim data
# (metadata_generator.py:132: eng_mappings), in its original insertion
# order, which is load-bearing: prefix matching scans the map in order
# and takes the first hit.
EN_NUMBER_MAPPINGS = {
    "1": ["one", "first", "primary", "January", "Jan", "single", "uni", "once", "mono"],
    "2": ["two", "second", "secondary", "February", "Feb", "dual", "double", "bi",
          "twin", "pair", "couple", "twice", "di"],
    "3": ["three", "third", "March", "Mar", "triple", "tri", "trio", "thrice"],
    "4": ["four", "fourth", "April", "Apr", "quad", "tetra", "quartet", "quarter"],
    "5": ["five", "fifth", "May", "penta", "quintet"],
    "6": ["six", "sixth", "June", "Jun", "hexa", "sextet"],
    "7": ["seven", "seventh", "July", "Jul", "septet", "hepta"],
    "8": ["eight", "eighth", "August", "Aug", "octet", "octa"],
    "9": ["nine", "ninth", "September", "Sep", "Sept", "nona"],
    "10": ["ten", "tenth", "October", "Oct", "deca", "decade"],
    "11": ["eleven", "eleventh", "November", "Nov"],
    "12": ["twelve", "twelfth", "December", "Dec", "dozen"],
    "13": ["thirteen", "thirteenth"], "14": ["fourteen", "fourteenth"],
    "15": ["fifteen", "fifteenth"], "16": ["sixteen", "sixteenth"],
    "17": ["seventeen", "seventeenth"], "18": ["eighteen", "eighteenth"],
    "19": ["nineteen", "nineteenth"], "20": ["twenty", "twentieth"],
    "30": ["thirty", "thirtieth"], "40": ["forty", "fortieth"],
    "50": ["fifty", "fiftieth"], "60": ["sixty", "sixtieth"],
    "70": ["seventy", "seventieth"], "80": ["eighty", "eightieth"],
    "90": ["ninety", "ninetieth"], "100": ["hundred"], "1000": ["thousand"],
    "0": ["zero", "oh"],
}

# lowercase word -> digit string, FIRST-insertion order preserved (the
# reference lowercases its map the same way; later duplicates collapse
# onto the original position)
NUMBER_WORDS: dict[str, str] = {}
for _num, _words in EN_NUMBER_MAPPINGS.items():
    for _w in _words:
        NUMBER_WORDS.setdefault(_w.lower(), _num)

RE_WORD_TOKEN = re.compile(r"[\w-]+")  # the reference's tokenization (:184)

# ordered alternation: regex alternatives are tried left-to-right, so
# match() returns the FIRST map word (insertion order) that prefixes the
# token — identical semantics to the reference's startswith scan at a
# single C-level match instead of ~90 Python startswith calls per token
RE_NUMBER_WORD_PREFIX = re.compile(
    "|".join(re.escape(w) for w in NUMBER_WORDS if len(w) >= 2)
)

SUPERSCRIPTS = str.maketrans("⁰¹²³⁴⁵⁶⁷⁸⁹₀₁₂₃₄₅₆₇₈₉", "01234567890123456789")

# C16 allowlist: chars NOT treated as special symbols
RE_PLAIN = re.compile(r"[A-Za-z0-9\s.,ㄱ-ㆎ가-힣]")

from pdf_extract_spark.rules import PY_WS_CHARS, RE_KOREAN  # single source of truth (C17)


# --------------------------------------------------------------------------
# pure kernels (shared with tests/oracle)
# --------------------------------------------------------------------------

def extract_punct(t: str) -> list[str]:
    """C12 (metadata_generator.py:92-96), faithful: the terminal-dot
    token comes FIRST (``end_periods + other_punct``), and the ``\\.$``
    check runs on the RAW text (the reference does not strip) — so
    trailing spaces/tabs block it, but Python's ``$`` still matches
    before ONE final newline ('done.\\n' counts the dot). The SQL
    mirrors spell this out as ``\\.\\n?`` + end-of-input, since RE2's
    ``$`` is \\z and Java's also fires before ``\\r``."""
    if not t:
        return []
    out = ["."] if RE_TERMINAL_DOT.search(t) else []
    return out + RE_PUNCT.findall(t)


def punct_status(kr: str, en: str) -> str:
    """The reference's ``punct_match_type`` (metadata_generator.py:98-114):
    'match' iff the ORDERED punct lists are identical, else 'no_match' —
    a binary, order-sensitive verdict (no partial tier)."""
    return "match" if extract_punct(kr or "") == extract_punct(en or "") else "no_match"


def extract_numbers(t: str) -> list[str]:
    """C13 — ordered cascade with sequential consumption via masking
    (metadata_generator.py:143-149, the Korean-side extractor: NO
    superscript handling — that exists only on the English side).
    Tokens come out in the reference's pattern-major order (all pattern-1
    hits in text order, then pattern-2, ...) with thousands separators
    stripped at append time (``m.group(0).replace(',','')``). The
    length-preserving \\x00 mask plays the role of the reference's
    single-space substitution: both are non-word chars, so later
    patterns see identical word boundaries and can never re-match or
    merge across a consumed span."""
    s = t or ""
    found: list[str] = []

    def consume(m: re.Match) -> str:
        found.append(m.group().replace(",", ""))
        return "\x00" * len(m.group())

    for pat in NUM_PATTERNS:
        s = pat.sub(consume, s)
    return found


# metadata_generator.py:155 — the English extractor prepends ONE digit
# per DISTINCT superscript char present (dict-iteration order, i.e. 0-9),
# then runs the same cascade over the RAW text (superscript chars are
# not \d so the patterns never see them); subscripts play no part in
# number extraction (they matter only for symbol comparison)
SUPERSCRIPT_DIGITS = {
    "⁰": "0", "¹": "1", "²": "2", "³": "3", "⁴": "4",
    "⁵": "5", "⁶": "6", "⁷": "7", "⁸": "8", "⁹": "9",
}


def extract_numbers_en(t: str) -> list[str]:
    """C13, English side (metadata_generator.py:152-159)."""
    s = t or ""
    return [d for sup, d in SUPERSCRIPT_DIGITS.items() if sup in s] + extract_numbers(s)


# C14 Korean side (metadata_generator.py:132-140): the reference's
# kor_mappings is exactly {'2': ['이중', '더블']}; matching is an
# alternation FINDALL over the raw text (no tokenization — hangul
# compounds like '이중화' still match on their prefix), each hit mapped
# to its digit string with multiplicity.
KOR_NUMBER_WORDS = {"이중": "2", "더블": "2"}
RE_KOR_NUMWORD = re.compile("|".join(map(re.escape, KOR_NUMBER_WORDS)))


def map_korean_number_words(t: str) -> list[str]:
    """C14 (kr) — Korean number-word occurrences to digit strings
    (metadata_generator.py:162-167: pattern.findall then map)."""
    if not t:
        return []
    return [KOR_NUMBER_WORDS[m] for m in RE_KOR_NUMWORD.findall(t)]


def _prefix_lookup(word: str) -> str | None:
    """First map entry (insertion order) that is a >= 2-char prefix of
    ``word`` (metadata_generator.py:196-201) — via the ordered
    alternation regex."""
    m = RE_NUMBER_WORD_PREFIX.match(word)
    return NUMBER_WORDS[m.group()] if m else None


def map_number_words(t: str) -> list[str]:
    """C14 — the reference's textual-number mapping, faithfully
    (metadata_generator.py:180-203): tokens are ``[\\w-]+`` runs of the
    lowercased text; an exact map hit wins; a hyphenated token maps the
    FIRST part with a prefix hit and stops; otherwise the token itself
    prefix-matches against the map in insertion order. Prefix matching
    is deliberate reference behavior and carries its quirks — 'mayor'
    maps to '5' via the May prefix, 'twenty-one' to '20' (first part
    wins)."""
    out: list[str] = []
    for token in RE_WORD_TOKEN.findall((t or "").lower()):
        if token in NUMBER_WORDS:
            out.append(NUMBER_WORDS[token])
            continue
        if "-" in token:
            for part in token.split("-"):
                hit = _prefix_lookup(part)
                if hit is not None:
                    out.append(hit)
                    break
            continue
        hit = _prefix_lookup(token)
        if hit is not None:
            out.append(hit)
    return out


def counter_diff(a: list[str], b: list[str]) -> tuple[int, int, int]:
    """A9 — multiset algebra: (matched, only_a, only_b) with multiplicity."""
    ca, cb = Counter(a), Counter(b)
    inter = ca & cb
    return (
        sum(inter.values()),
        sum((ca - cb).values()),
        sum((cb - ca).values()),
    )


def extract_symbols(t: str) -> list[str]:
    """C16 — chars outside the allowlist, super/subscripts normalized."""
    s = (t or "").translate(SUPERSCRIPTS)
    return [c for c in s if not RE_PLAIN.match(c)]


def _counter_status(ca: Counter, cb: Counter) -> str:
    """metadata_generator.py:232-240 — verdict over two token Counters."""
    if not ca and not cb:
        return "no_numbers"
    if ca == cb:
        return "all_match"
    if ca & cb:
        return "partial_match"
    return "no_match"


def compare_numbers(kr: str, en: str) -> tuple[str, list[str], list[str]]:
    """A9 number verdict, faithful to the reference's TWO-STAGE logic
    (IntegratedNumberComparer.compare, metadata_generator.py:222-271):

    1. compare DIGIT tokens only (kr cascade vs en superscripts+cascade);
       ``no_numbers`` and ``all_match`` return immediately — the
       text→number word maps are never consulted ('이중 격벽' vs
       'double hull' is no_numbers, and kr '2개' vs en 'a pair of 2' is
       all_match because mapping is skipped, not partial_match);
    2. otherwise extend ONLY the side(s) the reference extends — if
       exactly one side has digits, the OTHER side gets its word map
       (kr side the Korean 이중/더블 map, en side the English table); if
       both have digits but disagree, both sides get their own map —
       then recompute the verdict.

    Returns (status, kr_tokens_sorted, en_tokens_sorted) where the token
    lists are the post-mapping multisets the verdict was computed on
    (the reference's kor_numbers / eng_numbers_after_mapping record
    fields). Note the ordinal tokens keep their suffix ('2nd' does NOT
    equal '2' — reference appends the full match)."""
    kn = extract_numbers(kr)
    en_n = extract_numbers_en(en)
    status = _counter_status(Counter(kn), Counter(en_n))
    if status not in ("no_numbers", "all_match"):
        if bool(kn) != bool(en_n):
            if kn:
                en_n = en_n + map_number_words(en)
            else:
                kn = kn + map_korean_number_words(kr)
        else:
            kn = kn + map_korean_number_words(kr)
            en_n = en_n + map_number_words(en)
        status = _counter_status(Counter(kn), Counter(en_n))
    return status, sorted(kn), sorted(en_n)


def number_status(kr: str, en: str) -> str:
    """A9 verdict for numbers — see compare_numbers."""
    return compare_numbers(kr, en)[0]


ROMAN = {"i": "1", "ii": "2", "iii": "3", "iv": "4", "v": "5",
         "vi": "6", "vii": "7", "viii": "8", "ix": "9", "x": "10"}

# the reference's word token: letter runs joined by dots or hyphens
# ('Ph.D', 'state-of-the-art' are ONE token each)
RE_LATIN_WORD = re.compile(r"[a-zA-Z]+(?:[.-][a-zA-Z]+)*")
RE_EN_DIGIT_SUFFIX = re.compile(r"\d+([a-zA-Z]+)")  # '1st' -> 'st'


def word_status(kr: str, en: str) -> str:
    """C15, faithful to compare_english_words
    (metadata_generator.py:283-341): latin words embedded in the kr
    sentence (untranslated terms, acronyms) are counted with
    MULTIPLICITY and must be covered by the en sentence's word Counter.
    Variant expansion happens on the EN side only — each en word also
    credits its de-pluralized form ('ies'→'y', len>2 's'-strip) and its
    hyphen-split parts, and digit-suffix tokens ('1st'→'st') join the
    counter — so kr 'tank' matches en 'tanks' but kr 'tanks' does NOT
    match en 'tank' (direction is deliberate reference behavior). A kr
    roman numeral is satisfied by its digit appearing anywhere in the
    RAW en text. Verdict over DISTINCT kr words: all covered →
    all_match; none covered → no_match; else partial_match; no latin in
    kr → no_eng_in_kor."""
    kr_words = RE_LATIN_WORD.findall(kr or "")
    if not kr_words:
        return "no_eng_in_kor"
    kc = Counter(w.lower() for w in kr_words)

    el = (en or "").lower()
    ec = Counter(RE_LATIN_WORD.findall(el) + RE_EN_DIGIT_SUFFIX.findall(el))
    for w, c in list(ec.items()):
        if w.endswith("ies"):
            ec[w[:-3] + "y"] += c
        elif len(w) > 2 and w.endswith("s"):
            ec[w[:-1]] += c
        if "-" in w:
            for part in w.split("-"):
                if part:
                    ec[part] += c
    eng_nums = set(re.findall(r"\d+", en or ""))

    missing = Counter()
    for w, need in kc.items():
        if w in ROMAN and ROMAN[w] in eng_nums:
            continue
        if need > ec.get(w, 0):
            missing[w] = need - ec.get(w, 0)
    if not missing:
        return "all_match"
    if len(missing) == len(kc):
        return "no_match"
    return "partial_match"


RE_WS_RUN_PY = re.compile(r"\s+")


def pair_class(kr: str, en: str) -> str:
    """C17, faithful to check_only_eng_korean_sentence
    (metadata_generator.py:383-421) — detects rows whose 'Korean' side
    is actually the English sentence (or noise): invalid_input for
    non-strings; empty only when BOTH sides strip to nothing; all_match
    when the lowered/stripped sides are IDENTICAL (the kr cell holds the
    en text); partial_match when they equalize after whitespace removal;
    no_korean_in_kor when the kr side has no hangul; else
    valid_candidate. Check ORDER mirrors the reference — equality is
    tested before the hangul check."""
    if not isinstance(kr, str) or not isinstance(en, str):
        return "invalid_input"
    kl, el = kr.lower().strip(), en.lower().strip()
    if not kl and not el:
        return "empty"
    if kl == el:
        return "all_match"
    if RE_WS_RUN_PY.sub("", kl) == RE_WS_RUN_PY.sub("", el):
        return "partial_match"
    if not RE_KOREAN.search(kl):
        return "no_korean_in_kor"
    return "valid_candidate"


# --- C16, the faithful comparator (compare_special_symbols,
# metadata_generator.py:354-372): NFKC first, a WIDE allowlist (ASCII
# punctuation, jamo, parens, curly quotes, interpunct etc. are all
# allowed — they are punct, not "special symbols"), then two-sided
# redemption of leftover symbols against the OTHER side's digits.
# extract_symbols/counter_diff above remain the engine-portable
# simplified projection that the pair_symbols oracle value-verifies;
# symbol_status is the reference's verdict, rows-only via pair_metadata.

RE_ALLOWED_SYMBOL = re.compile(
    "[a-zA-Z0-9_ㄱ-ㅎㅏ-ㅣ가-힣\\s.,!?:;'\"`~%()’“”·/&-]"
)
SPECIAL_DIGIT_MAP = {
    "¹": "1", "²": "2", "³": "3", "⁴": "4", "⁵": "5", "⁶": "6",
    "⁷": "7", "⁸": "8", "⁹": "9",
    "₁": "1", "₂": "2", "₃": "3", "₄": "4", "₅": "5", "₆": "6",
    "₇": "7", "₈": "8", "₉": "9",
}


def extract_special_symbols(t: str) -> list[str]:
    """metadata_generator.py:354-356 — chars outside the wide allowlist."""
    if not isinstance(t, str):
        return []
    return list(RE_ALLOWED_SYMBOL.sub("", t))


def symbol_status(kr: str, en: str) -> str:
    """C16 verdict (compare_special_symbols): NFKC-normalize both sides
    (so superscript digits mostly collapse into digits before
    extraction), intersect the symbol Counters, then redeem each side's
    leftovers against the other side's digit supply via SPECIAL_DIGIT_MAP
    (bounded by count); no_special_symbols / all_match / partial_match /
    no_match on the remaining mass."""
    krn = unicodedata.normalize("NFKC", kr or "")
    enn = unicodedata.normalize("NFKC", en or "")
    k_sym = Counter(extract_special_symbols(krn))
    e_sym = Counter(extract_special_symbols(enn))
    k_num = Counter(re.findall(r"\d", krn))
    e_num = Counter(re.findall(r"\d", enn))
    k_rem, e_rem = k_sym.copy(), e_sym.copy()
    common = k_rem & e_rem
    k_rem -= common
    e_rem -= common
    for sym, count in list(k_rem.items()):
        d = SPECIAL_DIGIT_MAP.get(sym)
        if d and e_num[d] > 0:
            m = min(count, e_num[d])
            k_rem[sym] -= m
            e_num[d] -= m
    for sym, count in list(e_rem.items()):
        d = SPECIAL_DIGIT_MAP.get(sym)
        if d and k_num[d] > 0:
            m = min(count, k_num[d])
            e_rem[sym] -= m
            k_num[d] -= m
    k_rem += Counter()
    e_rem += Counter()
    total_initial = sum(k_sym.values()) + sum(e_sym.values())
    total_rem = sum(k_rem.values()) + sum(e_rem.values())
    if total_initial == 0:
        return "no_special_symbols"
    if total_rem == 0:
        return "all_match"
    if total_initial > total_rem:
        return "partial_match"
    return "no_match"


def compare_pair(kr: str, en: str) -> dict:
    """The full per-pair metadata record (one row of the reference's
    metadata workbook, metadata_generator.py:466-689)."""
    punct_kr, punct_en = extract_punct(kr or ""), extract_punct(en or "")
    pm, pk, pe = counter_diff(punct_kr, punct_en)
    sm, sk, se = counter_diff(extract_symbols(kr or ""), extract_symbols(en or ""))
    num_status, kr_nums, en_nums = compare_numbers(kr or "", en or "")
    return {
        # engine-portable multiset projections (value-exact vs DuckDB via
        # the pair_symbols query)
        "punct_match": pm, "punct_only_kr": pk, "punct_only_en": pe,
        "symbol_match": sm, "symbol_only_kr": sk, "symbol_only_en": se,
        # the reference workbook's verdict columns, faithful (the punct
        # verdict compares the lists already in hand — list equality IS
        # punct_status's definition)
        "punct_status": "match" if punct_kr == punct_en else "no_match",
        "number_status": num_status,
        "word_status": word_status(kr or "", en or ""),
        "symbol_status": symbol_status(kr or "", en or ""),
        "pair_class": pair_class(kr, en),
        # the reference's kor_numbers / eng_numbers_after_mapping record
        # fields: sorted POST-mapping token multisets (:266-268)
        "kr_numbers": kr_nums,
        "en_numbers": en_nums,
    }


# --------------------------------------------------------------------------
# Spark surface
# --------------------------------------------------------------------------

META_STRUCT = T.StructType(
    [
        T.StructField("punct_match", T.IntegerType()),
        T.StructField("punct_only_kr", T.IntegerType()),
        T.StructField("punct_only_en", T.IntegerType()),
        T.StructField("symbol_match", T.IntegerType()),
        T.StructField("symbol_only_kr", T.IntegerType()),
        T.StructField("symbol_only_en", T.IntegerType()),
        T.StructField("punct_status", T.StringType()),
        T.StructField("number_status", T.StringType()),
        T.StructField("word_status", T.StringType()),
        T.StructField("symbol_status", T.StringType()),
        T.StructField("pair_class", T.StringType()),
        T.StructField("kr_numbers", T.ArrayType(T.StringType())),
        T.StructField("en_numbers", T.ArrayType(T.StringType())),
    ]
)


def pair_metadata(df: DataFrame, kr_col: str = "kr_text", en_col: str = "en_text") -> DataFrame:
    """Append the metadata struct to a pair DataFrame — one vectorized
    Arrow batch pass (pandas_udf), no per-row Spark round trips."""
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf(META_STRUCT)
    def kernel(kr: pd.Series, en: pd.Series) -> pd.DataFrame:
        return pd.DataFrame([compare_pair(k, e) for k, e in zip(kr, en)])

    return df.withColumn("meta", kernel(F.col(kr_col), F.col(en_col)))


# --------------------------------------------------------------------------
# pair statistics (add_metadata.py:154-191) — pure Catalyst
# --------------------------------------------------------------------------

# every char Python's str.split() treats as whitespace (str.isspace()),
# as an explicit class — Java regex and RE2 both read \x{...} escapes,
# so ONE pattern string serves the Spark kernel and the DuckDB oracle;
# \s in both engines is ASCII-only and would miss NBSP/U+3000/NEL
_PY_WS_CHARS = PY_WS_CHARS
_PY_WS = f"[{_PY_WS_CHARS}]"
_PY_WS_TRIM = f"^{_PY_WS}+|{_PY_WS}+$"
_PY_WS_RUN = f"{_PY_WS}+"


def pair_stats(df: DataFrame, kr_col: str = "kr_text", en_col: str = "en_text",
               match_col: str = "match_type") -> DataFrame:
    """The reference's merged-CSV statistics columns
    (add_metadata.py:154-191): per-pair word counts, en/kr word and
    char-length ratios (2 dp, 0 when the kr side is empty), and the
    ``potential_split`` flag marking matched pairs where the kr side is
    long but the en side short — 1:N alignment candidates
    (matched AND kr_words > 4 AND en_words > 0 AND word_ratio < 0.7 AND
    chr_ratio < 1.2).

    Reference-faithful edge handling: word counts are Python
    ``str.split()`` semantics (ALL whitespace trimmed at the edges, so a
    trailing newline never inflates the count and whitespace-only text
    counts 0) — including UNICODE whitespace: Java's and RE2's ``\\s``
    are ASCII-only, so both engines use the explicit ``_PY_WS`` class
    below enumerating every char Python's str.split() splits on (NBSP,
    ideographic space U+3000 common in Korean text, NEL, the Unicode
    space block). NULL text behaves like the reference's fillna('')
    (counts 0, ratios 0.0) and a NULL match_type — like pandas NaN !=
    'unmatched' — passes the matched test, so potential_split is never
    NULL. The one documented divergence: rounding is engine-portable
    HALF_UP (Spark/DuckDB) rather than Python's banker's rounding at
    exact .xx5 midpoints."""
    def wc(col):
        # full PYTHON-whitespace trim (F.trim strips 0x20 only; \s is
        # ASCII-only in Java), NULL -> ''
        t = F.regexp_replace(F.coalesce(F.col(col), F.lit("")), _PY_WS_TRIM, "")
        return F.when(t == "", 0).otherwise(F.size(F.split(t, _PY_WS_RUN))).cast("long")

    wk, we = wc(kr_col), wc(en_col)
    ck = F.length(F.coalesce(F.col(kr_col), F.lit(""))).cast("long")
    ce = F.length(F.coalesce(F.col(en_col), F.lit(""))).cast("long")
    wr = F.when(wk > 0, F.round(we / wk, 2)).otherwise(F.lit(0.0))
    cr = F.when(ck > 0, F.round(ce / ck, 2)).otherwise(F.lit(0.0))
    split_flag = (
        F.coalesce(F.col(match_col) != "unmatched", F.lit(True))
        & (wk > 4) & (we > 0) & (wr < 0.7) & (cr < 1.2)
    )
    return df.select(
        "*",
        wk.alias("word_count_kr"), we.alias("word_count_en"),
        wr.alias("word_ratio"),
        ck.alias("chr_len_kr"), ce.alias("chr_len_en"),
        cr.alias("chr_len_ratio"),
        split_flag.alias("potential_split"),
    )


def pair_stats_sql(pairs_cte: str) -> str:
    """DuckDB mirror over a CTE named ``prs`` with columns
    (kr_text, en_text, match_type, ...)."""
    # plain concatenation, not str.format — the \x{..} escapes in the
    # whitespace class would read as format fields
    def wc(c: str) -> str:
        ft = f"regexp_replace(coalesce({c}, ''), '{_PY_WS_TRIM}', '', 'g')"
        return (f"CASE WHEN {ft} = '' THEN 0 "
                f"ELSE len(regexp_split_to_array({ft}, '{_PY_WS_RUN}')) END")

    wk, we = wc("kr_text"), wc("en_text")
    wr = f"CASE WHEN {wk} > 0 THEN round(({we}) * 1.0 / ({wk}), 2) ELSE 0.0 END"
    cr = ("CASE WHEN length(coalesce(kr_text, '')) > 0 "
          "THEN round(length(coalesce(en_text, '')) * 1.0 "
          "/ length(coalesce(kr_text, '')), 2) ELSE 0.0 END")
    return f"""
WITH {pairs_cte}
SELECT *,
       ({wk})::BIGINT AS word_count_kr, ({we})::BIGINT AS word_count_en,
       {wr} AS word_ratio,
       length(coalesce(kr_text, ''))::BIGINT AS chr_len_kr,
       length(coalesce(en_text, ''))::BIGINT AS chr_len_en,
       {cr} AS chr_len_ratio,
       (coalesce(match_type != 'unmatched', TRUE) AND {wk} > 4 AND {we} > 0
        AND {wr} < 0.7 AND {cr} < 1.2) AS potential_split
FROM prs
"""


# --------------------------------------------------------------------------
# pair symbol/punct counts, SQL-expressible half (metadata_generator.py:
# 92-96 punct, 353-372 symbols) — the value-exact oracle for the fields
# of compare_pair that don't need the sequential number/word cascade
# --------------------------------------------------------------------------

# mirrors of the kernel constants, as RE2/DuckDB-safe pattern fragments
_SQL_PUNCT_CLASS = '[!?:;%"`~…]'
_SUPSUB_FROM = "⁰¹²³⁴⁵⁶⁷⁸⁹₀₁₂₃₄₅₆₇₈₉"
_SUPSUB_TO = "01234567890123456789"
# negation of RE_PLAIN: the kernel's Python \s is Unicode-aware, so the
# negated allowlist enumerates the Python whitespace chars explicitly
_SQL_SYMBOL_NEG = f"[^A-Za-z0-9.,{_PY_WS_CHARS}ㄱ-ㆎ가-힣]"


def _multiset_matched_sql(la: str, lb: str) -> str:
    """Σ_token min(count_a, count_b) — Counter & Counter with
    multiplicity (the kernel's counter_diff); only_a/only_b follow as
    len(list) - matched."""
    return (
        f"coalesce(list_sum(list_transform(list_distinct({la} || {lb}), "
        f"c -> least(len(list_filter({la}, x -> x = c)), "
        f"len(list_filter({lb}, x -> x = c))))), 0)"
    )


def pair_symbols_sql(pairs_cte: str) -> str:
    """DuckDB mirror of the punct/symbol multiset fields of compare_pair
    over a CTE named ``prs`` with (doc_id, kr_text, en_text): punct =
    occurrences of the punct class plus a terminal-dot token (Python
    str.strip() mirrored by the explicit whitespace trim), symbols =
    chars outside the allowlist after super/subscript digit translation;
    counts compared as MULTISETS (Counter algebra, not set ops)."""
    def punct(c: str) -> str:
        # kernel parity: the \.$ check runs on the RAW text (no strip),
        # and the dot token leads — order is irrelevant to the multiset
        # counts but the mirror keeps the faithful shape anyway.
        # Python's $ also matches just BEFORE one final newline while
        # RE2's matches end-of-string only, so the mirror spells it out
        # as '\.\n?$' (RE2 $ == \z here) — 'done.\n' counts the dot in
        # both engines, 'done.\n\n' in neither
        return (
            f"((CASE WHEN regexp_matches({c}, '\\.\\n?$') THEN ['.'] "
            f"ELSE []::VARCHAR[] END) || "
            f"regexp_extract_all({c}, '{_SQL_PUNCT_CLASS}'))"
        )

    def syms(c: str) -> str:
        return (
            f"regexp_extract_all(translate({c}, '{_SUPSUB_FROM}', '{_SUPSUB_TO}'), "
            f"'{_SQL_SYMBOL_NEG}')"
        )

    return f"""
WITH {pairs_cte},
ext AS (
  SELECT doc_id,
         {punct('kr_text')} AS pk, {punct('en_text')} AS pe,
         {syms('kr_text')} AS sk, {syms('en_text')} AS se
  FROM prs),
m AS (
  SELECT doc_id, pk, pe, sk, se,
         {_multiset_matched_sql('pk', 'pe')} AS pm,
         {_multiset_matched_sql('sk', 'se')} AS sm
  FROM ext)
SELECT doc_id,
       pm::BIGINT AS punct_match,
       (len(pk) - pm)::BIGINT AS punct_only_kr,
       (len(pe) - pm)::BIGINT AS punct_only_en,
       sm::BIGINT AS symbol_match,
       (len(sk) - sm)::BIGINT AS symbol_only_kr,
       (len(se) - sm)::BIGINT AS symbol_only_en
FROM m
"""


# --------------------------------------------------------------------------
# F7/F8 content-filter predicates (metadata_generator.py:430-463)
# --------------------------------------------------------------------------

RE_NUM_FILLER = re.compile(r"[\d\s,.]")
RE_SINGLE_ALLOWED = re.compile(r"^[a-zA-Z0-9ㄱ-ㅎㅏ-ㅣ가-힣]$")
RE_SINGLE_ALPHA = re.compile(r"^[a-zA-Z]$")


def is_numbers_only(t: str) -> bool:
    """F7 (metadata_generator.py:430-432): True iff the text is non-blank
    and empties after removing digits/whitespace/commas/dots."""
    if not isinstance(t, str) or not t.strip():
        return False
    return not RE_NUM_FILLER.sub("", t)


def is_symbols_or_single_alphabet_only(t: str) -> bool:
    """F8 (metadata_generator.py:434-463): True iff, after strip() and
    dropping literal 'nan' runs, exactly ONE char remains and it is
    either a symbol (not alnum/jamo/hangul) or a latin letter — a single
    digit or single hangul syllable survives the filter."""
    if not isinstance(t, str):
        return False
    cleaned = t.strip().replace("nan", "")
    if len(cleaned) != 1:
        return False
    ch = cleaned[0]
    return (not RE_SINGLE_ALLOWED.match(ch)) or bool(RE_SINGLE_ALPHA.match(ch))
