"""Text-analysis column expressions: language ID, quality, tokens.

The reference delegates language detection to ``langdetect`` with a
pinned seed (reference: src/azure_pdf_parser/experimental_base.py:135-160,
DetectorFactory.seed=0 at :151-152). langdetect is a Python-only,
row-at-a-time library — the engine replaces it with a deterministic
stopword-profile heuristic expressed as pure SQL expressions, so
language ID runs JVM-side inside whole-stage codegen with zero Python
cost and identical results on any executor count.

Every function here has a Spark and a SQL (string) form with
bit-identical semantics — the SQL form feeds the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Legacy 4-language stopword lists — retained ONLY for the
# quality_exprs stopword_ratio signal (a Gopher-style "western stopword
# density" feature whose oracle SQL mirrors these exact lists).
# Language DETECTION uses LANG_PROFILES below.
LANG_STOPWORDS = {
    "de": ("der", "die", "das", "und", "ist", "nicht"),
    "en": ("the", "a", "of", "and", "to", "is"),
    "es": ("el", "los", "las", "y", "es", "una"),
    "fr": ("le", "les", "et", "est", "dans", "une"),
}


# Java's \b is Unicode-aware while RE2/DuckDB's is ASCII-only ('aß'
# bounds 'a' in RE2 but not in Java — found by hypothesis). Replacing
# every non-printable-ASCII char with a space BEFORE matching gives both
# engines identical boundary semantics.
_NON_ASCII_PAT = "[^ -~]"


def _ascii(text: Column) -> Column:
    return F.regexp_replace(text, _NON_ASCII_PAT, " ")


def _score(text: Column | str, lang: str) -> Column:
    pat = r"\b(" + "|".join(LANG_STOPWORDS[lang]) + r")\b"
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(_ascii(c), F.lit(pat), 1))


# ---------------------------------------------------------------------------
# Wide language identification: 59 languages, three bit-identical mirrors
# (Spark SQL / DuckDB SQL / pure Python in model.detect_language).
#
# The reference delegates to langdetect (~55 languages, pinned seed —
# experimental_base.py:135-160). The engine replaces it with a
# deterministic two-signal heuristic over the first LANGID_SAMPLE_CHARS
# characters (cld2-style sampling — detection cost must be O(1) per
# doc, not O(doc), at 100 TB):
#   * "words"  — count of DISTINCT language-specific function words
#     present (matched as whole space-delimited tokens, lowercase only),
#   * "script" — count of characters in a script-unique Unicode block
#     (CJK han, kana, hangul, Arabic, Hebrew, Greek, Thai, Devanagari).
# argmax over all scores; ties go to the lexicographically smallest
# code (the analog of the reference's seed pinning). No hits → NULL.
#
# Cross-engine word boundaries: RE2's \b is ASCII-only, so non-Latin
# stopwords can't use \b. Instead every non-letter of the sample
# becomes a space and the result is split on single spaces; \p{L}
# means the same Unicode letter category in Java regex, RE2, and
# Python's str.isalpha() (up to each runtime's Unicode version), which
# keeps all three mirrors identical (hypothesis-checked, astral
# included). Per-language word scores are array_intersect against each
# profile (distinct semantics in Spark/DuckDB/Python alike).
#
# The Spark form is rendered ONCE, at import, as Spark SQL text from
# the profile tables (_RANKED_SQL/_PICK_SQL, every constant through _sql_str) and
# built with F.expr: the JVM parses one string, where the Column API
# makes one py4j round-trip per node (~5,900 per extract plan, ~1 s of
# driver time per job at any input size). Catalyst gets the same
# expressions either way. The scores are lambda-free, so
# whole-stage codegen CSE evaluates the shared sample/hits subtrees of
# the inline form once per row — measured 1.1 s for 200k docs, where a
# filter(hits, λ)-count formulation re-evaluates the combined scan per
# language (fresh lambda-variable ids defeat CSE): 10.4 s; per-language
# full-text regexes: 2.0 s (Spark 4.1, local[32], sf0.1 ×40). The
# staged form (with_language) makes sample/hits/guard/argmax attributes,
# so the plan carries one copy of each instead of ~70.
# ---------------------------------------------------------------------------

LANGID_SAMPLE_CHARS = 256

# MUST stay sorted by language code: the Spark argmax tie-break is
# smallest dict index, the SQL tie-break is ORDER BY code ASC — they
# agree only while insertion order == lexicographic order.
LANG_PROFILES: dict[str, tuple[str, tuple]] = {
    "af": ("words", ("nie", "het", "vir", "ons", "baie", "jy")),
    "am": ("script", ("ሀ", "፿")),  # Ethiopic
    "ar": ("script", ("؀", "ۿ")),
    "bg": ("words", ("да", "се", "са", "това", "към", "е")),
    "bn": ("script", ("ঀ", "৿")),  # Bengali
    "ca": ("words", ("els", "amb", "és", "dels", "per", "aquesta")),
    "cs": ("words", ("je", "nejsou", "ale", "že", "jsou", "není")),
    "cy": ("words", ("mae", "nid", "ond", "gyda", "bod", "wedi")),
    "da": ("words", ("og", "er", "ikke", "det", "af")),
    "de": ("words", ("der", "die", "das", "und", "nicht", "ist", "im")),
    "el": ("script", ("Ͱ", "Ͽ")),
    "en": ("words", ("the", "and", "of", "to", "is", "it", "that")),
    "es": ("words", ("el", "los", "las", "una", "es", "y", "está")),
    "et": ("words", ("ja", "ei", "on", "see", "ning", "oma")),
    "fa": ("marker_script", "پچژگ"),  # Perso-Arabic additions
    "fi": ("words", ("ja", "ei", "eivät", "ole", "mutta", "se")),
    "fr": ("words", ("le", "les", "est", "dans", "une", "et", "que")),
    "gu": ("script", ("઀", "૿")),  # Gujarati
    "he": ("script", ("֐", "׿")),
    "hi": ("script", ("ऀ", "ॿ")),
    "hr": ("words", ("je", "su", "nije", "ali", "ovo", "što")),
    "hu": ("words", ("és", "nincs", "de", "az", "ez", "egy")),
    "hy": ("script", ("Ա", "֏")),  # Armenian
    "id": ("words", ("dan", "tidak", "ada", "di", "yang", "ini")),
    "it": ("words", ("il", "nella", "non", "sono", "che", "è")),
    "ja": ("script", ("぀", "ヿ")),
    "ka": ("script", ("Ⴀ", "ჿ")),  # Georgian
    "km": ("script", ("ក", "៿")),  # Khmer
    "kn": ("script", ("ಀ", "೿")),  # Kannada
    "ko": ("script", ("가", "힯")),
    "lo": ("script", ("຀", "໿")),  # Lao
    "lt": ("words", ("ir", "yra", "nėra", "bet", "šis", "tai")),
    "lv": ("words", ("un", "nav", "tas", "šī", "ar", "bija")),
    "mk": ("words", ("не", "се", "го", "тоа", "ова", "што")),
    "ml": ("script", ("ഀ", "ൿ")),  # Malayalam
    "my": ("script", ("က", "႟")),  # Myanmar
    "nl": ("words", ("het", "zijn", "niet", "een", "ook", "voor")),
    "no": ("words", ("og", "er", "ikke", "det", "av")),
    "pa": ("script", ("਀", "੿")),  # Gurmukhi
    "pl": ("words", ("nie", "są", "ale", "jest", "w", "z")),
    "pt": ("words", ("não", "uma", "os", "em", "com", "para")),
    "ro": ("words", ("și", "nu", "în", "este", "dar", "sunt")),
    "ru": ("words", ("и", "не", "в", "но", "это", "как")),
    "si": ("script", ("඀", "෿")),  # Sinhala
    "sk": ("words", ("nie", "sú", "som", "ako", "čo", "ktorý")),
    "sl": ("words", ("in", "je", "so", "tudi", "kot", "ni")),
    "so": ("words", ("iyo", "waa", "oo", "ku", "ma", "tahay")),
    "sq": ("words", ("dhe", "nuk", "një", "kjo", "por", "janë")),
    "sv": ("words", ("och", "är", "inte", "som", "ett", "på")),
    "sw": ("words", ("na", "ya", "wa", "kwa", "katika", "ni")),
    "ta": ("script", ("஀", "௿")),  # Tamil
    "te": ("script", ("ఀ", "౿")),  # Telugu
    "th": ("script", ("฀", "๿")),
    "tl": ("words", ("ang", "mga", "hindi", "ito", "ay", "sa")),
    "tr": ("words", ("ve", "değil", "ama", "bir", "bu", "şey")),
    "uk": ("words", ("і", "не", "в", "але", "це", "як")),
    "ur": ("marker_script", "ٹڈڑںےہ"),  # Urdu-specific letters
    "vi": ("words", ("và", "không", "ở", "trong", "của", "tôi")),
    "zh": ("script", ("一", "鿿")),
}
assert list(LANG_PROFILES) == sorted(LANG_PROFILES)


# One short sample sentence per language (used by the langid_wide gate
# and the three-mirror accuracy test). No apostrophes — each string is
# inlined into SQL literals.
LANGID_WIDE_SENTENCES: dict[str, str] = {
    "af": "die hond het nie in die huis gekom nie dit is vir ons baie goed jy weet",
    "am": "ውሻው እና ድመቷ በቤት ውስጥ አይደሉም ይህ ሙከራ ነው",
    "ar": "الكلب والقط ليسا في المنزل هذا اختبار",
    "bg": "кучето и котката не са в къщата да се това е",
    "bn": "কুকুর এবং বিড়াল বাড়িতে নেই এটি একটি পরীক্ষা",
    "ca": "els gossos no són a la casa amb aquesta prova dels veïns és per tu",
    "cs": "pes a kočka nejsou v domě ale je to že není",
    "cy": "mae y ci wedi bod yn y tŷ ond nid yw y gath gyda ni",
    "da": "hunden og katten er ikke i huset af det",
    "de": "der hund und die katze sind nicht im haus",
    "el": "ο σκύλος και η γάτα δεν είναι στο σπίτι",
    "en": "the cat is on the mat and it is that warm",
    "es": "el perro y los gatos están en una casa es",
    "et": "koer ja kass ei käi majas see on ning meie oma test",
    "fa": "سگ و گربه در خانه نیستند این یک آزمایش است",
    "fi": "koira ja kissa eivät ole talossa mutta se on",
    "fr": "le chien est dans une maison et les chats que",
    "gu": "કૂતરો અને બિલાડી ઘરમાં નથી આ એક પરીક્ષણ છે",
    "he": "הכלב והחתול לא בבית זה מבחן",
    "hi": "कुत्ता और बिल्ली घर में नहीं हैं यह एक परीक्षण है",
    "hr": "pas i mačka nije u kući ali ovo su psi što je test",
    "hu": "a kutya és a macska nincs a házban de az egy",
    "hy": "շունը և կատուն տանը չեն սա փորձություն է",
    "id": "anjing dan kucing tidak ada di rumah yang ini",
    "it": "il cane è nella casa e non sono che qui",
    "ja": "犬と猫は家にいませんこれはテストです",
    "ka": "ძაღლი და კატა სახლში არ არიან ეს ტესტია",
    "km": "ឆ្កែ និង ឆ្មា មិននៅផ្ទះទេ នេះជាការសាកល្បង",
    "kn": "ನಾಯಿ ಮತ್ತು ಬೆಕ್ಕು ಮನೆಯಲ್ಲಿ ಇಲ್ಲ ಇದು ಪರೀಕ್ಷೆ",
    "ko": "개와 고양이는 집에 없습니다 이것은 테스트입니다",
    "lo": "ຫມາ ແລະ ແມວ ບໍ່ຢູ່ເຮືອນ ນີ້ແມ່ນການທົດສອບ",
    "lt": "šuo ir katė yra ne namuose bet šis tai nėra testas",
    "lv": "suns un kaķis nav mājās tas ir šī pārbaude ar to bija",
    "mk": "кучето и мачката не се во куќата ова е тест што го сакам тоа",
    "ml": "നായയും പൂച്ചയും വീട്ടിൽ ഇല്ല ഇത് ഒരു പരീക്ഷണം",
    "my": "ခွေးနှင့်ကြောင်သည်အိမ်တွင်မရှိပါ ဤသည်စမ်းသပ်မှုဖြစ်သည်",
    "nl": "de hond en de kat zijn niet in het huis ook",
    "no": "hunden og katten er ikke i huset av det",
    "pa": "ਕੁੱਤਾ ਅਤੇ ਬਿੱਲੀ ਘਰ ਵਿੱਚ ਨਹੀਂ ਹਨ ਇਹ ਇੱਕ ਟੈਸਟ ਹੈ",
    "pl": "pies i kot nie są w domu ale to jest z",
    "pt": "o cão não está em uma casa com os para gatos",
    "ro": "câinele și pisica nu sunt în casă dar este",
    "ru": "собака и кошка не в доме но это как",
    "si": "බල්ලා සහ බළලා ගෙදර නැත මෙය පරීක්ෂණයකි",
    "sk": "pes nie je doma ale sú to psy čo som videl ako ktorý",
    "sl": "pes in mačka nista v hiši to je tudi test so kot mi ni",
    "so": "eyga iyo bisadda ma joogaan guriga waa tijaabo oo ku saabsan tahay",
    "sq": "qeni dhe macja nuk janë në shtëpi kjo është një provë por jo",
    "sv": "hunden och katten är inte i huset som ett på",
    "sw": "mbwa na paka si ndani ya nyumba hii ni jaribio kwa wa katika",
    "ta": "நாயும் பூனையும் வீட்டில் இல்லை இது ஒரு சோதனை",
    "te": "కుక్క మరియు పిల్లి ఇంట్లో లేవు ఇది ఒక పరీక్ష",
    "th": "สุนัขและแมวไม่อยู่ในบ้านนี่คือการทดสอบ",
    "tl": "ang aso at pusa ay hindi nasa bahay ito ay isang pagsubok sa mga bagay",
    "tr": "köpek ve kedi evde değil ama bu bir şey",
    "uk": "собака і кішка не в домі але це як",
    "ur": "کتا اور بلی گھر میں نہیں ہیں یہ ایک امتحان ہے",
    "vi": "con chó và con mèo không ở trong nhà của tôi",
    "zh": "狗和猫不在房子里这是一个测试",
}
assert list(LANGID_WIDE_SENTENCES) == list(LANG_PROFILES)


# Weight for "marker_script" profiles: fa/ur share ar's Arabic block,
# so the block count can never separate them — instead they score on
# letters the OTHER two languages don't use (fa: پ چ ژ گ; ur: ٹ ڈ ڑ ں
# ے ہ; plain ar uses neither set). One marker letter must outrank ANY
# block count: the sample is LANGID_SAMPLE_CHARS=256 chars, so a block
# score is ≤ 256 < 512, making marker presence strictly dominant and
# the scheme monotone/deterministic. (The same trick cannot split
# hi/mr/ne: Devanagari distinguishers are whole words whose vowel signs
# are combining marks — category Mn, not L — which the \p{L} cleaning
# strips in all three mirrors, shredding the tokens. Documented
# detector boundary: Devanagari resolves to hi.)
MARKER_WEIGHT = 512


def _script_pattern(lang: str) -> str:
    kind, payload = LANG_PROFILES[lang]
    if kind == "marker_script":
        return f"[{payload}]"
    lo, hi = payload
    return f"[{lo}-{hi}]"


def _sql_str(s: str) -> str:
    """Spark SQL string literal that selects back equal to ``s`` — the
    one quoting rule every constant of the rendered detector goes
    through: quote and backslash escaped, control characters (the NUL
    of NON_LATIN_GUARD) written as \\uXXXX escapes."""
    body = "".join(
        "\\" + ch if ch in "'\\" else f"\\u{ord(ch):04x}" if ch < " " else ch
        for ch in s
    )
    return f"'{body}'"


NON_LATIN_GUARD = "[^\x00-ͯ]"  # any char above U+036F
_LETTER_CLEANER = r"[^\p{L} ]"  # non-letters → space: the \p{L} strip of every mirror

# Union of every word profile's stopwords (sorted for determinism).
# Word scores are computed in two stages: hits = tokens ∩ ALL once,
# then per-language |hits ∩ profile|. Set identity: profile ⊆ ALL ⇒
# (tokens ∩ ALL) ∩ profile == tokens ∩ profile, so scores are
# bit-identical to the direct form — but the 35 per-language intersects
# probe a ≤|ALL∩tokens| hits array (typically < 8 elements) instead of
# the full ~40-token sample array. Measured 12.5 s → 3.9 s on the
# winner-bearing flagship probe at sf0.1 ×40 with zero value changes.
_ALL_PROFILE_WORDS: tuple[str, ...] = tuple(
    sorted(
        {
            w
            for kind, payload in LANG_PROFILES.values()
            if kind == "words"
            for w in payload
        }
    )
)


def _sql_array(values) -> str:
    return f"array({', '.join(map(_sql_str, values))})"


def _sample_sql(text: str) -> str:
    return f"substring({text}, 1, {LANGID_SAMPLE_CHARS})"


def _tokens_sql(sample: str) -> str:
    """Token array of the cleaned sample: non-letters → space, split on
    single spaces. Empty-string tokens (from space runs) survive the
    split but can never equal a profile word, so they are harmless —
    and both mirrors produce them identically."""
    return f"split(regexp_replace({sample}, {_sql_str(_LETTER_CLEANER)}, ' '), ' ')"


def _hits_sql(tokens: str) -> str:
    """tokens ∩ ALL_PROFILE_WORDS — the one full-array probe; every
    per-language word score intersects THIS small array instead."""
    return f"array_intersect({tokens}, {_sql_array(_ALL_PROFILE_WORDS)})"


def _nonlatin_sql(sample: str) -> str:
    return f"regexp_count({sample}, {_sql_str(NON_LATIN_GUARD)})"


def _ranked_template() -> str:
    """The argmax struct ``(s, r)`` — best score, minus its profile
    index — over ``{sample}``, ``{hits}`` (the :func:`_hits_sql` array)
    and ``{nl}`` (the :func:`_nonlatin_sql` count); see language_expr.

    Script scores scan the RAW sample with ``regexp_count`` (no per-match
    array); the Python and DuckDB mirrors count the raw sample too, so a
    combining mark or digit inside a script block counts for its script
    in all three. Word scores are set intersections of ``hits`` with
    each profile's word list — array_intersect dedups, exactly the
    Python mirror's set-&-set; over ``hits`` they equal intersects over
    the raw token array (profile ⊆ ALL) but probe a tiny array.

    Every script/marker profile lives above U+036F (all are non-Latin
    blocks; Cyrillic languages use WORD profiles), so the ``nl`` guard
    proves all 24 script scores are zero for Latin-only text — the
    common case — and codegen's lazy CASE skips the scans entirely.
    Value-identical on every input: NULL sample → NULL guard → the ELSE
    0 branch, and 0 scores yield the same NULL winner as NULL scores
    (`s > 0` is false for both; struct ordering puts NULL first, so
    array_max still lands on a zero-score struct)."""

    def score(lang: str) -> str:
        kind, payload = LANG_PROFILES[lang]
        if kind == "words":
            return f"size(array_intersect({{hits}}, {_sql_array(payload)}))"
        pattern = _sql_str(_script_pattern(lang))
        n = f"(CASE WHEN {{nl}} > 0 THEN regexp_count({{sample}}, {pattern}) ELSE 0 END)"
        return f"{n} * {MARKER_WEIGHT}" if kind == "marker_script" else n

    structs = ", ".join(
        f"named_struct('s', {score(lang)}, 'r', {-i})"
        for i, lang in enumerate(LANG_PROFILES)
    )
    return f"array_max(array({structs}))"


_RANKED_SQL = _ranked_template()
# the winner's code from the ``{rk}`` argmax struct; NULL without signal
_PICK_SQL = (
    f"CASE WHEN {{rk}}.s > 0 THEN element_at({_sql_array(LANG_PROFILES)}, -{{rk}}.r + 1) END"
)


def with_language(df, text: str, out: str):
    """Append the detected-language column ``out`` of column ``text``
    (any SQL column reference, e.g. ``s.text``) through STAGED
    projections.

    Use this (not a bare :func:`language_expr`) whenever the consuming
    projection contains array lambdas, or to keep the plan small.
    Lambda-bearing projections are CodegenFallback: interpreted
    evaluation has no subexpression elimination, and CollapseProject can
    inline a staged single-column tree into a lambda body, where it
    re-evaluates PER ARRAY ELEMENT — measured 38 s vs 2 s on the layout
    chain at sf0.1. Staging the sample, ``hits``, guard and argmax as
    real columns makes them attribute references: multi-referenced
    non-cheap columns survive CollapseProject, so the regex scans run
    exactly once per row and the argmax holds one attribute per ``hits``
    reference instead of a copy of the 193-word intersect. The argmax is
    staged because codegen CSE never shares a subexpression between a
    CASE condition and its THEN branch: inline, the winner CASE
    generates the 59-score argmax twice (327 KB of Java for the flagship
    plan, 177 KB staged), and compiling it is the detector's main cost
    on small inputs.
    """
    smp, hits, nl, rk = (f"_{out}_{s}" for s in ("sample", "hits", "nl", "rank"))
    df = df.withColumn(smp, F.expr(_sample_sql(text)))
    df = df.withColumns(
        {hits: F.expr(_hits_sql(_tokens_sql(smp))), nl: F.expr(_nonlatin_sql(smp))}
    )
    df = df.withColumn(rk, F.expr(_RANKED_SQL.format(sample=smp, hits=hits, nl=nl)))
    df = df.withColumn(out, F.expr(_PICK_SQL.format(rk=rk)))
    return df.drop(smp, hits, nl, rk)


def language_expr(text: str) -> Column:
    """Detected language code (59 languages) of column ``text``, or NULL
    on no signal.

    argmax over per-language scores; ties go to the lexicographically
    smallest code. Built so each per-language score expression appears
    EXACTLY ONCE: argmax = array_max over (score, -lang_index) structs
    (struct comparison is field-order lexicographic, so max score wins
    and ties go to the smallest index), and the winner is read from
    that one struct.

    This inline form repeats the sample, ``hits`` and guard subtrees
    once per score and the whole argmax twice (see with_language): ~70
    copies of the 193-word intersect. It relies on whole-stage codegen
    CSE to evaluate the shared subtrees once per row, so the tree must
    stay lambda-free — one transform() drops the WHOLE projection out of
    codegen and the copies re-scan per language (measured 15 s vs 3.5 s
    flagship). Inside a lambda-bearing projection CSE is
    unavailable — use :func:`with_language` there instead.

    Null-safe winner branch: NULL text gives NULL scores, which tie on
    the index field inside array_max and would otherwise crown the first
    language. `s > 0` is false for both NULL and 0 scores, so each
    yields NULL — matching the SQL form's empty-subquery NULL.
    """
    sample = _sample_sql(text)
    ranked = _RANKED_SQL.format(
        sample=sample, hits=_hits_sql(_tokens_sql(sample)), nl=_nonlatin_sql(sample)
    )
    return F.expr(_PICK_SQL.format(rk=ranked))


def language_sql(text_sql: str) -> str:
    """DuckDB SQL expression with semantics identical to
    :func:`language_expr`: a correlated scalar subquery ranking the 59
    (code, score) rows — max score first, code ASC on ties, NULL when
    every score is 0 or NULL (empty subquery → NULL scalar)."""
    sample = f"substr({text_sql}, 1, {LANGID_SAMPLE_CHARS})"
    tokens = (
        f"string_split(regexp_replace({sample}, '[^\\pL ]', ' ', 'g'), ' ')"
    )

    def score(lang: str) -> str:
        kind, payload = LANG_PROFILES[lang]
        if kind in ("script", "marker_script"):
            # raw sample, not cleaned, as in _ranked_template
            n = f"len(regexp_extract_all({sample}, '{_script_pattern(lang)}'))"
            return f"({n} * {MARKER_WEIGHT})" if kind == "marker_script" else n
        words = ", ".join(f"'{w}'" for w in payload)
        return f"len(list_intersect({tokens}, [{words}]))"

    values = ", ".join(f"('{lang}', {score(lang)})" for lang in LANG_PROFILES)
    return (
        f"(SELECT l FROM (VALUES {values}) AS lang_scores(l, s)"
        f" WHERE s > 0 ORDER BY s DESC, l ASC LIMIT 1)"
    )


# Document-granularity langid evaluation corpus (r4 verdict ask #4).
# The langid_agreement gate's documents-source rows are a LABEL AUDIT
# (the synthetic corpus' `lang` column routes English-ish text); these
# variants are real per-language text — built ONLY from the language's
# own LANGID_WIDE_SENTENCES sentence plus a bounded contaminant — so
# the accuracy rows measure the DETECTOR at document granularity.


def langid_doc_variants() -> list[tuple[str, str, str]]:
    """Deterministic (lang_true, variant, text) rows: 59 languages × 4
    document shapes (236 rows, stable order = code order × variant
    order). Ground truth is the construction language.

      sentence — the plain profile sentence (baseline; the granularity
                 the langid_wide gate already pins at 59/59);
      repeat   — the sentence space-joined with itself until the text
                 EXCEEDS LANGID_SAMPLE_CHARS=256 (asserted below), so
                 the sample truncation genuinely engages for every
                 language (distinct-token scoring must be
                 repetition-invariant); for 40/59 languages the cut
                 also lands mid-token (measured — the other 19
                 sentences happen to hit a word boundary at 256), so
                 clipped-final-token robustness is exercised for most
                 but not all languages;
      head4    — the first 4 space-separated words only (short-fragment
                 stress; the spaceless-script sentences ja/zh/th have
                 one "word" — the full sentence — and my has two, so
                 only km/lo among the non-segmenting scripts actually
                 lose a word here);
      mixed    — the full own-language sentence + the first 5 words of
                 the ENGLISH sentence (French for en itself): a
                 lightly code-switched document whose majority language
                 is the label, the shape real web text takes.

    No apostrophes appear in any sentence (asserted below), so every
    text embeds directly into single-quoted SQL literals."""
    rows: list[tuple[str, str, str]] = []
    en_head = " ".join(LANGID_WIDE_SENTENCES["en"].split(" ")[:5])
    fr_head = " ".join(LANGID_WIDE_SENTENCES["fr"].split(" ")[:5])
    for lang, s in LANGID_WIDE_SENTENCES.items():
        contaminant = fr_head if lang == "en" else en_head
        repeated = s
        while len(repeated) <= LANGID_SAMPLE_CHARS:
            repeated += " " + s
        assert len(repeated) > LANGID_SAMPLE_CHARS
        rows.append((lang, "sentence", s))
        rows.append((lang, "repeat", repeated))
        rows.append((lang, "head4", " ".join(s.split(" ")[:4])))
        rows.append((lang, "mixed", s + " " + contaminant))
    assert all("'" not in t for _, _, t in rows)
    return rows


def token_count_expr(text: Column | str) -> Column:
    """Whitespace token count (corpus text is single-space joined)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.when(F.length(c) == 0, F.lit(0)).otherwise(F.size(F.split(c, " ")))


TOKEN_COUNT_SQL = "(CASE WHEN length({t}) = 0 THEN 0 ELSE len(string_split({t}, ' ')) END)"

# BPE-ish pre-tokenizer regex (GPT-2-style split classes, simplified to
# the subset whose semantics are identical in Java regex and RE2):
# letter runs, digit runs, single non-alphanumeric-non-space chars.
BPE_TOKEN_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def bpe_token_count_expr(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(BPE_TOKEN_PATTERN), 0))


BPE_TOKEN_COUNT_SQL = "len(regexp_extract_all({t}, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))"


def quality_exprs(text: Column | str) -> dict[str, Column]:
    """Quality-scoring signals: length, tokens, avg token length,
    stopword ratio, distinct-token ratio. All ratios rounded to 6 dp so
    the DuckDB comparison is stable."""
    c = F.col(text) if isinstance(text, str) else text
    n_chars = F.length(c)
    n_tokens = token_count_expr(c)
    # empty text → 0 tokens → NULL ratios (nullif: ANSI mode would raise
    # on /0, and the DuckDB oracle must agree)
    denom = F.nullif(n_tokens.cast("double"), F.lit(0.0))
    all_stop = _score(c, "en") + _score(c, "de") + _score(c, "es") + _score(c, "fr")
    n_distinct = F.size(F.array_distinct(F.split(c, " ")))
    return {
        "n_chars": n_chars.cast("bigint"),
        "n_tokens": n_tokens.cast("bigint"),
        "avg_token_len": F.round((n_chars - (n_tokens - 1)) / denom, 6),
        "stopword_ratio": F.round(all_stop / denom, 6),
        "distinct_ratio": F.round(n_distinct / denom, 6),
    }


def repetition_stats(documents: "DataFrame") -> "DataFrame":  # noqa: F821
    """Gopher-style repetition signals per doc: total/distinct word
    bigrams, the most-frequent bigram's count, and its share of all
    bigrams (high share ⇒ boilerplate/spam — a standard training-data
    drop rule).

    Plan: bigram explode (narrow) → groupBy(doc, bigram) count →
    groupBy(doc) max/sum/count — two shuffles, both keyed on the
    uniform doc id (the second reuses the first's partitioning modulo
    the bigram column, and both do map-side partial aggregation).
    """
    from pyspark.sql import functions as F

    from azure_pdf_parser_spark.partitioning import widen_for_compute

    documents = widen_for_compute(documents)
    words = F.split("text", " ")
    n = F.size(words)
    bigrams = F.when(n < 2, F.array(F.col("text"))).otherwise(
        F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.concat_ws(" ", F.element_at(words, i + 1), F.element_at(words, i + 2)),
        )
    )
    per_gram = (
        documents.select("doc_id", F.explode_outer(bigrams).alias("bigram"))
        .where(F.col("bigram").isNotNull())
        .groupBy("doc_id", "bigram")
        .agg(F.count("*").alias("c"))
    )
    return per_gram.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_bigrams"),
        F.count("*").cast("bigint").alias("n_distinct_bigrams"),
        F.max("c").cast("bigint").alias("top_bigram_count"),
        F.round(F.max("c") / F.sum("c"), 6).alias("top_bigram_ratio"),
    )


# per-doc bigram counts: the grams CTE body of REPETITION_STATS_SQL,
# shared with the Gopher filter's oracle (_gopher_sql)
_BIGRAM_COUNTS_SQL = """
    SELECT doc_id, bigram, count(*) AS c FROM (
        SELECT d.doc_id,
               CASE WHEN len(w.words) < 2 THEN d.text
                    ELSE w.words[t.i + 1] || ' ' || w.words[t.i + 2]
               END AS bigram
        FROM documents d
        -- symmetric with the Spark side's NULL-bigram filter: a NULL
        -- text must drop the doc in BOTH engines (advisor-verified
        -- divergence: DuckDB's CASE otherwise emits one NULL bigram row)
        CROSS JOIN LATERAL (SELECT string_split(d.text, ' ') AS words) w
        CROSS JOIN LATERAL (
            SELECT UNNEST(range(CAST(greatest(len(w.words) - 1, 1) AS BIGINT))) AS i
        ) t
        WHERE d.text IS NOT NULL
    ) GROUP BY doc_id, bigram
"""

REPETITION_STATS_SQL = (
    "\nWITH grams AS ("
    + _BIGRAM_COUNTS_SQL
    + """)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_bigrams,
       CAST(count(*) AS BIGINT) AS n_distinct_bigrams,
       CAST(max(c) AS BIGINT) AS top_bigram_count,
       round(max(c) / CAST(sum(c) AS DOUBLE), 6) AS top_bigram_ratio
FROM grams GROUP BY doc_id
"""
)


def vocab_topk(documents: "DataFrame", k: int = 100) -> "DataFrame":  # noqa: F821
    """Corpus vocabulary top-k: global token counts ranked
    (count DESC, token ASC) — the vocab-building pass of a training
    pipeline. One groupBy on the token (map-side partials collapse the
    per-partition duplicates first) and a single-partition window over
    only the k-ish head would be wrong at scale — instead the window
    runs over the full ranked set but Spark's TakeOrderedAndProject
    keeps it bounded; output is k rows.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    counts = (
        documents.select(F.explode_outer(F.split("text", " ")).alias("token"))
        .where(F.col("token").isNotNull())
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    w = Window.orderBy(F.col("n").desc(), F.col("token").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("rank", "token", F.col("n").cast("bigint").alias("n"))
    )


VOCAB_TOPK_SQL = """
WITH counts AS (
    SELECT token, count(*) AS n FROM (
        SELECT UNNEST(string_split(text, ' ')) AS token FROM documents
    ) GROUP BY token
)
SELECT CAST(row_number() OVER (ORDER BY n DESC, token ASC) AS INT) AS rank,
       token, CAST(n AS BIGINT) AS n
FROM counts
ORDER BY n DESC, token ASC
LIMIT {k}
"""


# A token that contains at least one ASCII letter, matched directly on
# the space-joined text (tokens are single-space separated, so the
# leading `(?:^| )` anchor consumes at most the separator and the scan
# stays non-overlapping). No \b — Java's is Unicode-aware where
# RE2/DuckDB's is ASCII (see module header), this pattern is identical
# in both engines.
ALPHA_WORD_PATTERN = "(?:^| )[^ ]*[A-Za-z][^ ]*"

# Gopher rule thresholds (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", table A1 subset
# expressible over single-space-joined text — the line/bullet rules
# need raw line structure the corpus schema doesn't carry).
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_AVG_WORD_LEN = 3.0
GOPHER_MAX_AVG_WORD_LEN = 10.0
GOPHER_MIN_STOPWORDS = 2
GOPHER_MIN_ALPHA_RATIO = 0.8
GOPHER_MAX_TOP_BIGRAM_RATIO = 0.18


def gopher_filter(documents: "DataFrame") -> "DataFrame":  # noqa: F821
    """Per-doc keep/drop decision under the Gopher quality rules, with
    one boolean column per rule so downstream can audit WHY a doc was
    dropped (the standard shape for a training-data filter stage).

    Rules: word count in [50, 100k]; mean word length in [3, 10];
    >=2 stopword hits; >=80% of words contain an ASCII letter; top
    word-bigram share <= 0.18 (from :func:`repetition_stats`).
    NULL signals (empty/NULL text) fail their rule — ``keep`` is never
    NULL.

    Plan shape: every per-doc signal except the bigram share is a
    map-only lambda-free projection (whole-stage codegen, CSE across
    the shared token split); the bigram share reuses the
    repetition_stats aggregate (explode -> two doc_id-keyed groupBys
    with map-side partials) and joins back on the uniform doc_id key —
    two shuffles total at any scale, no driver-side work.
    """
    from azure_pdf_parser_spark.partitioning import widen_for_compute

    documents = widen_for_compute(documents)
    c = F.col("text")
    n_chars = F.length(c)
    n_tokens = token_count_expr(c)
    denom = F.nullif(n_tokens.cast("double"), F.lit(0.0))
    stop_hits = (
        _score(c, "de") + _score(c, "en") + _score(c, "es") + _score(c, "fr")
    )
    alpha_words = F.size(F.regexp_extract_all(c, F.lit(ALPHA_WORD_PATTERN), 0))
    sig = documents.select(
        "doc_id",
        n_tokens.cast("bigint").alias("n_tokens"),
        F.round((n_chars - (n_tokens - 1)) / denom, 6).alias("avg_token_len"),
        stop_hits.alias("stop_hits"),
        F.round(alpha_words / denom, 6).alias("alpha_ratio"),
    )
    rep = repetition_stats(documents).select("doc_id", "top_bigram_ratio")
    j = sig.join(rep, "doc_id", "left")

    def rule(cond: Column) -> Column:
        return F.coalesce(cond, F.lit(False))

    rules = {
        "ok_word_count": rule(
            F.col("n_tokens").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        ),
        "ok_avg_word_len": rule(
            F.col("avg_token_len").between(
                GOPHER_MIN_AVG_WORD_LEN, GOPHER_MAX_AVG_WORD_LEN
            )
        ),
        "ok_stopwords": rule(F.col("stop_hits") >= GOPHER_MIN_STOPWORDS),
        "ok_alpha": rule(F.col("alpha_ratio") >= GOPHER_MIN_ALPHA_RATIO),
        "ok_repetition": rule(
            F.col("top_bigram_ratio") <= GOPHER_MAX_TOP_BIGRAM_RATIO
        ),
    }
    staged = j.select(
        "doc_id", "n_tokens", *[c_.alias(n) for n, c_ in rules.items()]
    )
    keep = F.lit(True)
    for name in rules:
        keep = keep & F.col(name)
    return staged.select(
        "doc_id",
        "n_tokens",
        *rules.keys(),
        keep.alias("keep"),
    )


def _gopher_sql() -> str:
    """DuckDB mirror of :func:`gopher_filter` (module-level constant
    GOPHER_FILTER_SQL holds the rendered form)."""
    t = "text"
    n_tokens = TOKEN_COUNT_SQL.format(t=t)
    stops = " + ".join(
        f"len(regexp_extract_all(regexp_replace({t}, '[^ -~]', ' ', 'g'), "
        f"'\\b({'|'.join(words)})\\b', 1))"
        for words in LANG_STOPWORDS.values()
    )
    return f"""
WITH grams AS ({_BIGRAM_COUNTS_SQL}),
rep AS (
    SELECT doc_id, round(max(c) / CAST(sum(c) AS DOUBLE), 6) AS top_bigram_ratio
    FROM grams GROUP BY doc_id
),
sig AS (
    SELECT doc_id,
           CAST({n_tokens} AS BIGINT) AS n_tokens,
           round((length({t}) - ({n_tokens} - 1)) / nullif(CAST({n_tokens} AS DOUBLE), 0), 6) AS avg_token_len,
           ({stops}) AS stop_hits,
           round(len(regexp_extract_all({t}, '{ALPHA_WORD_PATTERN}')) / nullif(CAST({n_tokens} AS DOUBLE), 0), 6) AS alpha_ratio
    FROM documents
)
SELECT s.doc_id, s.n_tokens,
       coalesce(s.n_tokens BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}, FALSE) AS ok_word_count,
       coalesce(s.avg_token_len BETWEEN {GOPHER_MIN_AVG_WORD_LEN} AND {GOPHER_MAX_AVG_WORD_LEN}, FALSE) AS ok_avg_word_len,
       coalesce(s.stop_hits >= {GOPHER_MIN_STOPWORDS}, FALSE) AS ok_stopwords,
       coalesce(s.alpha_ratio >= {GOPHER_MIN_ALPHA_RATIO}, FALSE) AS ok_alpha,
       coalesce(r.top_bigram_ratio <= {GOPHER_MAX_TOP_BIGRAM_RATIO}, FALSE) AS ok_repetition,
       (coalesce(s.n_tokens BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}, FALSE)
        AND coalesce(s.avg_token_len BETWEEN {GOPHER_MIN_AVG_WORD_LEN} AND {GOPHER_MAX_AVG_WORD_LEN}, FALSE)
        AND coalesce(s.stop_hits >= {GOPHER_MIN_STOPWORDS}, FALSE)
        AND coalesce(s.alpha_ratio >= {GOPHER_MIN_ALPHA_RATIO}, FALSE)
        AND coalesce(r.top_bigram_ratio <= {GOPHER_MAX_TOP_BIGRAM_RATIO}, FALSE)) AS keep
FROM sig s LEFT JOIN rep r ON s.doc_id = r.doc_id
"""


GOPHER_FILTER_SQL = _gopher_sql()


def quality_sql() -> dict[str, str]:
    """DuckDB equivalents of :func:`quality_exprs` over column ``text``."""
    t = "text"
    n_tokens = TOKEN_COUNT_SQL.format(t=t)
    stops = " + ".join(
        f"len(regexp_extract_all(regexp_replace({t}, '[^ -~]', ' ', 'g'), "
        f"'\\b({'|'.join(words)})\\b', 1))"
        for words in LANG_STOPWORDS.values()
    )
    return {
        "n_chars": f"CAST(length({t}) AS BIGINT)",
        "n_tokens": f"CAST({n_tokens} AS BIGINT)",
        "avg_token_len": f"round((length({t}) - ({n_tokens} - 1)) / nullif(CAST({n_tokens} AS DOUBLE), 0), 6)",
        "stopword_ratio": f"round(({stops}) / nullif(CAST({n_tokens} AS DOUBLE), 0), 6)",
        "distinct_ratio": f"round(len(list_distinct(string_split({t}, ' '))) / nullif(CAST({n_tokens} AS DOUBLE), 0), 6)",
    }


# C4-style cleanup rules (Raffel et al. 2020, "Exploring the Limits of
# Transfer Learning with a Unified Text-to-Text Transformer", §2.2) —
# the doc-level subset expressible over single-space-joined text (C4's
# per-LINE rules need raw line structure the corpus schema doesn't
# carry; the line-dedup rule's cross-doc analog is duplicate_passages).
C4_MIN_SENTENCES = 3
C4_SENTENCE_END = r"[.!?][\" ]|[.!?]$"
C4_LOREM = "lorem ipsum"
C4_BAD_TOKEN = "javascript"


def c4_filter(documents: "DataFrame") -> "DataFrame":  # noqa: F821
    """Per-doc keep/drop under the C4 cleanup rules, one boolean per
    rule (audit shape, same contract as :func:`gopher_filter`):

    * >= 3 sentences (terminal-punctuation heuristic, as C4's);
    * ends in terminal punctuation (doc-level form of C4's line rule);
    * no '{' (C4's code heuristic);
    * no 'lorem ipsum' (case-insensitive);
    * no 'javascript' token (doc-level form of C4's line rule).

    NULL/empty text fails every rule — ``keep`` is never NULL. Plan
    shape: a single map-only lambda-free projection over the scan —
    whole-stage codegen, zero Exchange at any corpus size.
    """
    c = F.col("text")
    low = F.lower(c)

    def rule(cond: Column) -> Column:
        return F.coalesce(cond, F.lit(False))

    rules = {
        "ok_sentences": rule(F.col("n_sentences") >= C4_MIN_SENTENCES),
        "ok_terminal_punct": rule(c.rlike(r"[.!?\"]$")),
        "ok_no_brace": rule(~F.contains(c, F.lit("{"))),
        "ok_no_lorem": rule(~F.contains(low, F.lit(C4_LOREM))),
        "ok_no_badword": rule(
            ~low.rlike(rf"(?:^| ){C4_BAD_TOKEN}(?: |$)")
        ),
    }
    # n_sentences must be computed before the rules reference it, but
    # the whole thing stays one collapsed projection under codegen
    sig = documents.select(
        "doc_id",
        F.coalesce(
            F.regexp_count(c, F.lit(C4_SENTENCE_END)), F.lit(0)
        ).cast("bigint").alias("n_sentences"),
        *[v.alias(k) for k, v in rules.items()],
    )
    keep = F.lit(True)
    for name in rules:
        keep = keep & F.col(name)
    return sig.select(
        "doc_id", "n_sentences", *rules.keys(), keep.alias("keep")
    )


def _c4_sql() -> str:
    t = "text"
    n_sent = f"coalesce(len(regexp_extract_all({t}, '{C4_SENTENCE_END}')), 0)"
    rules = {
        "ok_sentences": f"{n_sent} >= {C4_MIN_SENTENCES}",
        "ok_terminal_punct": f"""regexp_matches({t}, '[.!?"]$')""",
        "ok_no_brace": f"NOT contains({t}, '{{')",
        "ok_no_lorem": f"NOT contains(lower({t}), '{C4_LOREM}')",
        "ok_no_badword": f"NOT regexp_matches(lower({t}), '(^| ){C4_BAD_TOKEN}( |$)')",
    }
    cols = ",\n       ".join(
        f"coalesce({expr}, FALSE) AS {name}" for name, expr in rules.items()
    )
    keep = " AND ".join(f"coalesce({expr}, FALSE)" for expr in rules.values())
    return f"""
SELECT doc_id,
       CAST({n_sent} AS BIGINT) AS n_sentences,
       {cols},
       ({keep}) AS keep
FROM documents
"""


C4_FILTER_SQL = _c4_sql()
