"""Generic HTML -> text extraction as a pure Column expression.

Unlike :mod:`versatiles_rs_spark.pages.extract` (which exploits the
synthetic template for the exact byte-identity invariant), this is the
extractor a real Common-Crawl pipeline runs: strip comments, script and
style blocks, drop tags, decode the core character entities, collapse
whitespace. The whole chain is ``regexp_replace``/``replace`` Columns —
JVM-side, whole-stage-codegen, zero Python — and every rule is written in
the regex subset BOTH Java's engine and DuckDB's RE2 accept (inline
``(?is)`` flags, no backreferences, no lookaround), so the DuckDB oracle
runs the *same* rules.

Rule order matters and is fixed: comments, then script/style (their text
content is not document text), then all remaining tags, then entity
decode (after tag-stripping so ``&lt;`` cannot create a fake tag, with
``&amp;`` last per the HTML spec), then whitespace collapse + trim.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# (pattern, replacement) — regex subset shared by Java regex and RE2.
_REGEX_RULES: list[tuple[str, str]] = [
    (r"(?s)<!--.*?-->", " "),
    (r"(?is)<script\b[^>]*>.*?</script>", " "),
    (r"(?is)<style\b[^>]*>.*?</style>", " "),
    (r"(?s)<[^>]*>", " "),
]

# literal entity decodes; &amp; strictly last
_ENTITY_RULES: list[tuple[str, str]] = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&amp;", "&"),
]

_WS = (r"\s+", " ")

# numeric character references — the general &#NNN; / &#xHH; case. Bounds
# ({1,7} decimal / {1,6} hex) keep every parsed value inside bigint range;
# the same body is used for the split (delimiters) and the extraction
# (payloads) so parts and entities interleave exactly.
_NUM_ENTITY = r"&#([0-9]{1,7}|[xX][0-9a-fA-F]{1,6});"

# codepoints outside Unicode scalar values decode to U+FFFD (the HTML
# spec's replacement-character rule): <= 0, surrogates, > 0x10FFFF.
_REPLACEMENT = "�"


def _decode_numeric_entities(t: Column) -> Column:
    """Decode every numeric character reference in ``t`` — pure Column
    math: split on the entity pattern, extract the payloads, map each to
    its character, and interleave. Spark's ``chr`` is ASCII-mod-256, so
    the character is built as explicit UTF-8 bytes (hex -> unhex ->
    decode) — still whole-stage codegen, zero Python."""
    parts = F.split(t, _NUM_ENTITY)
    ents = F.regexp_extract_all(t, F.lit(_NUM_ENTITY), F.lit(1))

    def dec(e: Column) -> Column:
        cp = (
            F.when(
                F.lower(F.substring(e, 1, 1)) == "x",
                F.conv(F.substring(e, 2, 6), 16, 10).cast("bigint"),
            )
            .otherwise(e.cast("bigint"))
        )
        hx = lambda c: F.lpad(F.hex(c.cast("bigint")), 2, "0")
        six = F.lit(63)
        utf8_hex = (
            F.when(cp < 0x80, hx(cp))
            .when(
                cp < 0x800,
                F.concat(
                    hx(F.shiftright(cp, 6).bitwiseOR(F.lit(0xC0))),
                    hx(cp.bitwiseAND(six).bitwiseOR(F.lit(0x80))),
                ),
            )
            .when(
                cp < 0x10000,
                F.concat(
                    hx(F.shiftright(cp, 12).bitwiseOR(F.lit(0xE0))),
                    hx(F.shiftright(cp, 6).bitwiseAND(six).bitwiseOR(F.lit(0x80))),
                    hx(cp.bitwiseAND(six).bitwiseOR(F.lit(0x80))),
                ),
            )
            .otherwise(
                F.concat(
                    hx(F.shiftright(cp, 18).bitwiseOR(F.lit(0xF0))),
                    hx(F.shiftright(cp, 12).bitwiseAND(six).bitwiseOR(F.lit(0x80))),
                    hx(F.shiftright(cp, 6).bitwiseAND(six).bitwiseOR(F.lit(0x80))),
                    hx(cp.bitwiseAND(six).bitwiseOR(F.lit(0x80))),
                )
            )
        )
        bad = (cp <= 0) | ((cp >= 0xD800) & (cp <= 0xDFFF)) | (cp > 0x10FFFF)
        return F.when(bad, F.lit(_REPLACEMENT)).otherwise(
            F.decode(F.unhex(utf8_hex), "UTF-8")
        )

    decoded = F.array_join(
        F.zip_with(parts, F.transform(ents, dec),
                   lambda p, d: F.concat(p, F.coalesce(d, F.lit("")))),
        "",
    )
    # rows without '&#' skip the higher-order path entirely (conditional
    # branches evaluate lazily); the HOF expressions are JVM-interpreted,
    # not codegen, so this guard keeps the common case cheap
    return F.when(t.contains("&#"), decoded).otherwise(t)


def _decode_numeric_entities_sql(t: str) -> str:
    """The DuckDB twin of :func:`_decode_numeric_entities` — same pattern,
    same U+FFFD guard, same interleave. DuckDB's ``chr`` takes a real
    codepoint, so no UTF-8 assembly is needed; hex parses via the
    engine's ``CAST('0x..' AS BIGINT)``. Cross-tested character-for-
    character against the Spark path in tests/test_html_text.py."""
    cp = (
        "(CASE WHEN lower(e[1:1])='x' THEN CAST('0x'||e[2:] AS BIGINT) "
        "ELSE CAST(e AS BIGINT) END)"
    )
    dec = (
        f"CASE WHEN {cp} <= 0 OR {cp} BETWEEN 55296 AND 57343 OR {cp} > 1114111 "
        f"THEN chr(65533) ELSE chr(CAST({cp} AS INTEGER)) END"
    )
    # n matches split the text into n + 1 parts; the decoded list gets an
    # explicit trailing NULL so both lists have n + 1 entries and list_zip
    # never pads. DuckDB 1.0.0 segfaults now and then when list_zip pads
    # the shorter list under these lambdas; equal lengths give the same
    # rows and never crashed.
    return (
        "coalesce(array_to_string(list_transform(list_zip("
        f"string_split_regex({t}, '{_NUM_ENTITY}'), "
        f"list_append(list_transform(regexp_extract_all({t}, '{_NUM_ENTITY}', 1), e -> {dec}), NULL)), "
        "x -> x[1] || coalesce(x[2], '')), ''), '')"
    )


def html_to_text(html: Column) -> Column:
    """HTML string Column -> extracted text Column (pure codegen).

    Numeric references decode LAST (after ``&amp;``). Any sequential
    decode has one double-decode hazard; numeric-last picks ``&amp;#38;``
    -> ``&`` (spec single-pass would give ``&#38;``) in exchange for
    ``&#38;lt;`` -> ``&lt;`` being correct. Both engines share the exact
    same order, so the oracle sees identical text."""
    t = html
    for pat, rep in _REGEX_RULES:
        t = F.regexp_replace(t, pat, rep)
    for lit, rep in _ENTITY_RULES:
        t = F.replace(t, F.lit(lit), F.lit(rep))
    t = _decode_numeric_entities(t)
    t = F.regexp_replace(t, _WS[0], _WS[1])
    return F.trim(t)


def html_to_text_sql(expr: str) -> str:
    """The identical rule chain as a DuckDB SQL expression over ``expr``.

    Used verbatim by the driver oracle so Spark and DuckDB extract with
    one shared rule set rather than two hand-kept copies.
    """
    t = expr
    for pat, rep in _REGEX_RULES:
        t = f"regexp_replace({t}, '{pat}', '{rep}', 'g')"
    for lit, rep in _ENTITY_RULES:
        rep_sql = rep.replace("'", "''")
        t = f"replace({t}, '{lit}', '{rep_sql}')"
    t = _decode_numeric_entities_sql(t)
    t = f"regexp_replace({t}, '{_WS[0]}', '{_WS[1]}', 'g')"
    return f"trim({t})"
