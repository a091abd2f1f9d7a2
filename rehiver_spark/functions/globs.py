"""Glob → regex compiler and Column predicates (micromatch subset).

Re-expresses the reference's PathMatcher surface
(reference: src/index.ts:613-765) as pure-Python compilation plus
Spark ``Column`` predicates, so pattern filtering runs JVM-side via
``rlike`` (whole-stage codegen, no Python UDF) and can be applied to
billions of keys. The single exception is the rare ``!()`` class no
one-shot regex can express, which routes through an Arrow-batched
exact matcher (see the extglob bullet below).

Supported subset (everything exercised by the reference's tests and
README — tests/index.test.ts:25-126, README.md:66-81):

- ``*``      one segment wildcard           → ``[^/]*``
- ``**``     any number of segments (incl 0) — ``**/x`` also matches ``x``
- ``?``      single non-separator char      → ``[^/]``
- ``[abc]`` / ``[!abc]`` char classes
- ``{a,b}``  brace alternation (nesting via expansion)
- ``!pat``   negation inside pattern lists (subtract semantics)
- ``:name``  named capture (capture mode)   → ``([^/.]+)``  (src/index.ts:745)
- ``*`` in capture mode                     → ``([^/]+)``   (src/index.ts:747)
- ``{1..9}`` / ``{01..12}`` / ``{a..f}`` numeric & alpha brace ranges
  (zero-padding and ``..step`` suffix à la the micromatch ``braces``
  expander)
- extglobs ``@(a|b)`` ``?(x)`` ``*(x)`` ``+(x)`` ``!(x)`` — alternates
  may nest wildcards/classes/extglobs; ``!(p)`` means "a segment run
  that does not entirely match p". Exact bash parity when the extglob
  ends its segment, when its TOP-LEVEL trailing context is a fixed
  literal (``!(foo)bar`` — the split is unique, so the exclusion is
  exact; bare ``+``/``@``/``!``/``,`` count as literal since they only
  open constructs before ``(``), and for a lone trailing ``*``
  (``!(p)*`` ≡ ``*`` whenever p cannot match empty — the empty run
  always refutes p, in any context). The RAW REGEX stays permissive
  for two classes, both pinned against real bash in
  tests/test_globs.py: variable-width body together with
  variable-width trailing context (``!(a|b*)b*`` — bash's per-split
  run≠p check needs variable-width lookbehind that Python ``re``
  lacks) and ``!()`` nested inside another extglob with following
  context (``@(!(foo)bar)baz`` — the segment-end anchor is
  meaningless there). Since r13 the COLUMN surface (``glob_match`` /
  ``glob_all``) is bash-exact for every pattern regardless: those two
  shapes are detected at compile time (:func:`glob_regex_is_exact`)
  and routed through an Arrow-batched pandas UDF over the exact
  split-enumerating matcher; every other shape keeps the JVM ``rlike``
  fast path.
- POSIX classes ``[[:alpha:]]`` etc. inside bracket expressions
- options: ``dot`` (match dotfiles), ``nocase``

None of the extglob/range/POSIX forms appear in the reference's tests
or docs (micromatch handles them there, src/index.ts:644-650); they
are provided for full matcher parity.

The emitted regex uses only constructs valid in BOTH Java
(``rlike``/Catalyst) and Python ``re`` — so the same compiled string
drives driver-side path resolution (partition pruning before
``.load``) and executor-side filtering.
"""

from __future__ import annotations

import re
from functools import lru_cache

from pyspark.sql import Column
from pyspark.sql import functions as F

_SPECIAL = ".^$+()[]{}|\\"


def _escape(ch: str) -> str:
    return "\\" + ch if ch in _SPECIAL else ch


_RANGE_RE = re.compile(
    r"^(?:(-?\d+)\.\.(-?\d+)|([A-Za-z])\.\.([A-Za-z]))(?:\.\.(-?\d+))?$"
)

# any char that can open a glob construct in remainder position — a
# remainder free of these is a fixed literal suffix (the unique-split
# guarantee for `!(p)rest`). '@'/'!'/'+' are only special before '('
# and '(' is itself in the class, so bare occurrences stay literal
# ('!(foo)+bar' keeps its exact form); ':' stays in the class because
# capture mode turns ':name' into a group.
_GLOB_META_RE = re.compile(r"[*?\[\](){}|:\\]")


def _expand_range(body: str) -> list[str] | None:
    """``1..5`` / ``01..12`` / ``a..f`` (optional ``..step``) → values,
    or None when the body is not a range. Zero-padding applies when an
    endpoint is written with leading zeros (braces-package parity)."""
    m = _RANGE_RE.match(body)
    if not m:
        return None
    step = abs(int(m.group(5) or 1)) or 1
    if m.group(1) is not None:
        a, b = m.group(1), m.group(2)
        ia, ib = int(a), int(b)
        vals = range(ia, ib + 1, step) if ia <= ib else range(ia, ib - 1, -step)
        pad = any(s.lstrip("-").startswith("0") and len(s.lstrip("-")) > 1 for s in (a, b))
        width = max(len(a), len(b)) if pad else 0
        return [str(v).zfill(width) for v in vals]
    ca, cb = ord(m.group(3)), ord(m.group(4))
    rng = range(ca, cb + 1, step) if ca <= cb else range(ca, cb - 1, -step)
    return [chr(v) for v in rng]


def expand_braces(pattern: str) -> list[str]:
    """Expand ``{a,b}`` alternations and ``{1..3}`` / ``{a..c}`` ranges
    into a list of brace-free patterns.

    Handles nesting by repeated single-level expansion. A ``{...}``
    with no top-level comma and no range form is treated literally
    (micromatch parity).
    """
    # find first balanced {...} containing a top-level comma or a range
    i = pattern.find("{")
    while i != -1:
        depth = 0
        paren = 0  # commas inside an extglob's parens are literal
        comma = False
        j = i
        while j < len(pattern):
            c = pattern[j]
            if c == "{":
                depth += 1
            elif c == "}":
                depth -= 1
                if depth == 0:
                    break
            elif c == "(":
                paren += 1
            elif c == ")":
                paren = max(0, paren - 1)
            elif c == "," and depth == 1 and paren == 0:
                comma = True
            j += 1
        if j < len(pattern) and not comma:
            rng = _expand_range(pattern[i + 1 : j])
            if rng is not None:
                head, tail = pattern[:i], pattern[j + 1 :]
                out = []
                for v in rng:
                    out.extend(expand_braces(head + v + tail))
                return out
        if j < len(pattern) and comma:
            head, body, tail = pattern[:i], pattern[i + 1 : j], pattern[j + 1 :]
            alts: list[str] = []
            depth = 0
            paren = 0
            cur = ""
            for c in body:
                if c == "{":
                    depth += 1
                elif c == "}":
                    depth -= 1
                elif c == "(":
                    paren += 1
                elif c == ")":
                    paren = max(0, paren - 1)
                if c == "," and depth == 0 and paren == 0:
                    alts.append(cur)
                    cur = ""
                else:
                    cur += c
            alts.append(cur)
            out: list[str] = []
            for a in alts:
                out.extend(expand_braces(head + a + tail))
            return out
        i = pattern.find("{", i + 1)
    return [pattern]


# POSIX class name → Java/Python-compatible character-class body
_POSIX_CLASSES = {
    "alnum": "a-zA-Z0-9",
    "alpha": "a-zA-Z",
    "ascii": r"\x00-\x7f",
    "blank": r" \t",
    "cntrl": r"\x00-\x1f\x7f",
    "digit": "0-9",
    "graph": r"\x21-\x7e",
    "lower": "a-z",
    "print": r"\x20-\x7e",
    "punct": r"!-/:-@\[-`|{}~",
    "space": r" \t\r\n\x0b\f",
    "upper": "A-Z",
    "word": "a-zA-Z0-9_",
    "xdigit": "0-9A-Fa-f",
}


def _sub_posix(body: str) -> str:
    return re.sub(
        r"\[:(\w+):\]",
        lambda m: _POSIX_CLASSES.get(m.group(1), re.escape(m.group(0))),
        body,
    )


def _scan_class_end(pattern: str, j: int) -> int:
    """Index of the closing ``]`` of a bracket expression starting scan
    at ``j``, skipping ``[:name:]`` POSIX tokens; len(pattern) if
    unterminated."""
    n = len(pattern)
    while j < n and pattern[j] != "]":
        if pattern[j] == "[" and j + 1 < n and pattern[j + 1] == ":":
            k = pattern.find(":]", j + 2)
            j = j + 1 if k == -1 else k + 2
        else:
            j += 1
    return j


def _glob_fixed_width(s: str) -> int | None:
    """Matched width of a brace-free glob fragment when every token is
    fixed-width (literal char, ``?``, ``[...]`` class) — None as soon
    as a variable-width construct appears (any ``*``, any extglob —
    conservatively including ``@()`` of equal-width alts — or a
    backslash, whose escape semantics we decline to reason about
    here). Drives the r13 exact compilation of ``!(p)rest``: a
    fixed-width *rest* makes the run|rest split unique, and fixed-width
    *body alts* make "run matches p" decidable per split position."""
    w = i = 0
    n = len(s)
    while i < n:
        c = s[i]
        if c in "@!+*?" and i + 1 < n and s[i + 1] == "(":
            return None
        if c in "*\\":
            return None
        if c == "[":
            j = _scan_class_end(s, i + 1)
            if j < n:  # terminated class: exactly one char
                w += 1
                i = j + 1
                continue
        w += 1
        i += 1
    return w


def _parse_extglob_alts(pattern: str, i: int) -> tuple[list[str], int] | None:
    """Parse ``X(alt|alt)`` where pattern[i] is the prefix char and
    pattern[i+1] == '('. Returns (alts, index after ')') or None when
    the parens never balance (then the prefix char is literal)."""
    depth = 0
    alts: list[str] = []
    cur = ""
    j = i + 1
    n = len(pattern)
    while j < n:
        c = pattern[j]
        if c == "(":
            depth += 1
            if depth > 1:
                cur += c
        elif c == ")":
            depth -= 1
            if depth == 0:
                alts.append(cur)
                return alts, j + 1
            cur += c
        elif c == "|" and depth == 1:
            alts.append(cur)
            cur = ""
        else:
            cur += c
        j += 1
    return None


def _translate_one(
    pattern: str,
    dot: bool,
    nested: bool = False,
    seg_start0: bool = True,
    inexact: list | None = None,
) -> str:
    """Translate a single brace-free glob into an (unanchored) regex
    body. ``seg_start0`` seeds the segment-start state — the exact
    driver-side matcher (:func:`_exact_match`) translates pattern
    SUFFIXES that resume mid-segment, where leading-dot guards and
    globstar segment-ownership must not re-arm.

    ``inexact``, when passed, collects a marker every time translation
    falls back to the permissive/two-sided ``!()`` form — i.e. exactly
    when the produced regex is NOT bash-exact.  Callers that need an
    exactness verdict (``glob_match``'s UDF routing) pass a list and
    test its truthiness; the regex text itself is unchanged."""
    out: list[str] = []
    i = 0
    n = len(pattern)
    seg_start = seg_start0  # at start of a path segment
    star_guard = "" if dot else r"(?!\.)"
    while i < n:
        c = pattern[i]
        if c in "@!+*?" and i + 1 < n and pattern[i + 1] == "(":
            parsed = _parse_extglob_alts(pattern, i)
            if parsed is not None:
                alts, j = parsed
                # alternates translate recursively with dot=True: the
                # leading-dot guard applies to the segment as a whole
                # (emitted below), not inside a nested alternate
                body = "|".join(
                    _translate_one(a, dot=True, nested=True, inexact=inexact)
                    for a in alts
                )
                if seg_start and not dot:
                    # bash/micromatch with dotglob off: an extglob at
                    # segment start never matches a dotfile, even when
                    # the extglob itself matches empty ('?(x).gz' must
                    # not match '.gz')
                    out.append(star_guard)
                if c == "@":
                    out.append(f"(?:{body})")
                elif c == "?":
                    out.append(f"(?:{body})?")
                elif c == "*":
                    out.append(f"(?:{body})*")
                elif c == "+":
                    out.append(f"(?:{body})+")
                else:  # '!' — a run not entirely matching the alts
                    # bash ∃-split semantics ("some decomposition
                    # avoids p") where one regex can express them —
                    # decided by the remainder of the SEGMENT:
                    seg_close = pattern.find("/", j)
                    rest = pattern[j:] if seg_close < 0 else pattern[j:seg_close]
                    if not nested and not _GLOB_META_RE.search(rest):
                        # literal trailing context ⇒ the run|rest
                        # split is UNIQUE (rest is a fixed suffix),
                        # so excluding "segment == p·rest" IS the
                        # bash rule — '!(foo)bar' rejects 'foobar',
                        # accepts 'foofoobar'. rest == '' is the
                        # end-of-segment case (same form, exact all
                        # along). Pinned against real bash in
                        # tests/test_globs.py. TOP LEVEL ONLY: the
                        # (?:/|$) anchor is meaningless inside an
                        # enclosing extglob whose own context
                        # continues past this alternate — there the
                        # permissive form below applies instead.
                        lit = "".join(_escape(ch) for ch in rest)
                        out.append(f"(?:(?!(?:{body}){lit}(?:/|$))[^/]*)")
                    elif rest == "*" and not re.fullmatch(f"(?:{body})", ""):
                        # '!(p)*' to segment end, p can't match
                        # empty: the empty run refutes p for every
                        # segment, so the pair ≡ '*' (bash accepts
                        # 'foo' for '!(foo)*'); the old lookahead
                        # form wrongly rejected S == p·ε
                        out.append("[^/]*")
                        i = j + 1  # consume the trailing star too
                        seg_start = False
                        continue
                    elif not nested and _glob_fixed_width(rest) is not None:
                        # FIXED-WIDTH wildcard context (r13): rest
                        # matches exactly w chars, so the run|rest
                        # split is as unique as the literal case —
                        # the same exclusion form works with rest
                        # COMPILED instead of escaped ('!(foo)b?'
                        # rejects 'foobx', accepts 'fooobx'). The
                        # main loop still compiles rest itself.
                        rest_re = _translate_one(
                            rest, dot=True, nested=True, seg_start0=False,
                            inexact=inexact,
                        )
                        out.append(
                            f"(?:(?!(?:{body}){rest_re}(?:/|$))[^/]*)"
                        )
                    elif not nested and all(
                        _glob_fixed_width(a) is not None for a in alts
                    ):
                        # FIXED-WIDTH BODY alts (r13): "run matches p"
                        # is decidable purely from the split position
                        # i = |run| — only i ∈ {alt widths} can ever
                        # match p, and there a fixed-width negative
                        # lookahead checks the prefix. Enumerate the
                        # ∃-splits as alternation over run lengths:
                        # gaps between alt widths pass freely, each
                        # alt width w gets (?!alts_w)[^/]{w}. Closes
                        # the '!(foo)b*' divergence ('foob' now
                        # rejected, 'foobb' kept — bash-pinned); rest
                        # still compiles in the main loop, so nothing
                        # downstream weakens.
                        by_w: dict[int, list[str]] = {}
                        for a in alts:
                            by_w.setdefault(_glob_fixed_width(a), []).append(a)
                        branches = []
                        lo = 0
                        for wv in sorted(by_w):
                            if lo <= wv - 1:
                                branches.append(f"[^/]{{{lo},{wv - 1}}}")
                            aw = "|".join(
                                _translate_one(
                                    a, dot=True, nested=True, inexact=inexact
                                )
                                for a in by_w[wv]
                            )
                            branches.append(f"(?!(?:{aw}))[^/]{{{wv}}}")
                            lo = wv + 1
                        branches.append(f"[^/]{{{lo},}}")
                        out.append("(?:" + "|".join(branches) + ")")
                    else:
                        # remaining fallback (r13: only VARIABLE-width
                        # body AND variable-width rest together, or
                        # any '!()' nested in an enclosing extglob):
                        # per-split run≠p checks would need variable-
                        # width lookbehind, which Java/Python regex
                        # lack, so "p covering the whole segment" is
                        # excluded and everything else passes. TWO-
                        # SIDED divergence, pinned vs bash in
                        # tests/test_globs.py: permissive for the
                        # nested class, and able to OVER-reject when
                        # a variable body can cover the segment
                        # ('!(a|b*)b*' vs 'bb' — bash accepts via the
                        # empty-run split). The driver-side
                        # PathMatcher routes '!('-patterns through
                        # _exact_match, which enumerates the bash
                        # splits and is exact; glob_match routes this
                        # class (flagged via ``inexact``) through the
                        # Arrow-batched exact matcher the same way.
                        if inexact is not None:
                            inexact.append(pattern)
                        out.append(f"(?:(?!(?:{body})(?:/|$))[^/]*)")
                i = j
                seg_start = False
                continue
        if c == "*":
            if i + 1 < n and pattern[i + 1] == "*":
                # globstar — must own its segment
                j = i + 2
                if (seg_start) and (j >= n or pattern[j] == "/"):
                    if j >= n:  # trailing '**' → rest of path
                        out.append(".*")
                        i = j
                    else:  # '**/' → zero or more whole segments
                        out.append(r"(?:" + star_guard + r"[^/]*/)*")
                        if not dot:
                            out.append(star_guard)
                        i = j + 1
                    seg_start = True
                    continue
                # '**' not segment-bound behaves like '*' (micromatch)
                if seg_start and not dot:
                    out.append(star_guard)
                out.append("[^/]*")
                i = j
                seg_start = False
                continue
            if seg_start and not dot:
                out.append(star_guard)
            out.append("[^/]*")
            i += 1
            seg_start = False
        elif c == "?":
            out.append("[^/]")
            i += 1
            seg_start = False
        elif c == "[":
            j = i + 1
            neg = j < n and pattern[j] in "!^"
            if neg:
                j += 1
            if j < n and pattern[j] == "]":  # literal ] first
                j += 1
            j = _scan_class_end(pattern, j)
            if j >= n:  # unterminated class → literal '['
                out.append(r"\[")
                i += 1
            else:
                body = pattern[i + 1 : j]
                if body.startswith(("!", "^")):
                    # a glob class never matches the separator, so the
                    # negation set must include '/' (micromatch parity:
                    # '[!b]' must not match across segment boundaries).
                    # A literal ']' that was first-in-class ('[!]x]') is
                    # no longer first once '^/' is prepended — escape it
                    # or it would terminate the regex class early and
                    # invert the match
                    rest = body[1:].replace("\\", "\\\\")
                    if rest.startswith("]"):
                        rest = "\\]" + rest[1:]
                    body = "^/" + rest
                else:
                    body = body.replace("\\", "\\\\")
                out.append("[" + _sub_posix(body) + "]")
                i = j + 1
            seg_start = False
        elif c == "/":
            out.append("/")
            i += 1
            seg_start = True
        else:
            out.append(_escape(c))
            i += 1
            seg_start = False
    return "".join(out)


@lru_cache(maxsize=4096)
def _compile_flagged(pattern: str, dot: bool) -> tuple[str, bool]:
    """(regex body, is_bash_exact) for one pattern: translation runs
    once with the ``inexact`` collector; the boolean is True unless
    some expansion hit the permissive ``!()`` fallback."""
    flags: list = []
    bodies = [
        _translate_one(p, dot, inexact=flags) for p in expand_braces(pattern)
    ]
    body = bodies[0] if len(bodies) == 1 else "(?:" + "|".join(bodies) + ")"
    return body, not flags


@lru_cache(maxsize=4096)
def glob_to_regex(pattern: str, dot: bool = False, nocase: bool = False) -> str:
    """Compile one glob pattern to an anchored, Java-safe regex string.

    Cached (reference caches compiled RegExp, src/index.ts:658-674 —
    here the cache amortizes driver-side compile; executors JIT the
    ``rlike`` pattern once per task anyway).
    """
    body, _ = _compile_flagged(pattern, dot)
    prefix = "(?i)" if nocase else ""
    return f"{prefix}^{body}$"


def glob_regex_is_exact(pattern: str, dot: bool = False) -> bool:
    """True iff :func:`glob_to_regex`'s single-regex translation of
    ``pattern`` is bash-exact — i.e. no brace expansion fell back to
    the permissive ``!()`` form (variable-width body together with
    variable-width trailing context, or ``!()`` nested inside another
    extglob with following context)."""
    return _compile_flagged(pattern, dot)[1]


@lru_cache(maxsize=4096)
def capture_to_regex(pattern: str) -> tuple[str, tuple[str, ...]]:
    """Compile a capture pattern (``:name`` placeholders + ``*``) to an
    anchored regex with capture groups; returns (regex, group_names).

    Mirrors reference semantics exactly (src/index.ts:733-765):
    ``:name`` → ``([^/.]+)``, ``*`` → ``([^/]+)``; other glob syntax is
    translated non-capturing.
    """
    out: list[str] = []
    names: list[str] = []
    i = 0
    n = len(pattern)
    while i < n:
        c = pattern[i]
        if c == ":" and i + 1 < n and (pattern[i + 1].isalpha() or pattern[i + 1] == "_"):
            j = i + 1
            while j < n and (pattern[j].isalnum() or pattern[j] == "_"):
                j += 1
            names.append(pattern[i + 1 : j])
            out.append(r"([^/.]+)")
            i = j
        elif c == "*":
            if i + 1 < n and pattern[i + 1] == "*":
                out.append(".*")
                i += 2
            else:
                names.append(f"_{len(names)}")
                out.append(r"([^/]+)")
                i += 1
        elif c == "?":
            out.append("[^/]")
            i += 1
        else:
            out.append(_escape(c))
            i += 1
    return "^" + "".join(out) + "$", tuple(names)


def split_patterns(patterns: str | list[str]) -> tuple[list[str], list[str]]:
    """Split a micromatch pattern list into (positive, negated-bodies).

    A leading ``!`` negates the pattern UNLESS it opens an extglob
    (``!(...)``) — micromatch's own disambiguation rule."""
    if isinstance(patterns, str):
        patterns = [patterns]

    def is_neg(p: str) -> bool:
        return p.startswith("!") and not p.startswith("!(")

    pos = [p for p in patterns if not is_neg(p)]
    neg = [p[1:] for p in patterns if is_neg(p)]
    return pos, neg


# ---------------------------------------------------------------------------
# Column-level API (JVM-side predicates — the 100 TB path)
# ---------------------------------------------------------------------------


_FAST_LITERAL = r"[A-Za-z0-9_\-./=]"
_FAST_FORM = re.compile(
    rf"^(?:({_FAST_LITERAL}+)/)?\*\*/\*(\.[A-Za-z0-9]+)$"
)


def _fast_predicate(c: Column, pattern: str, dot: bool, nocase: bool) -> Column | None:
    """matchFast analog (reference src/index.ts:683-694): the common
    forms ``prefix/**/*.ext`` and ``**/*.ext`` reduce to
    startswith/endswith string predicates — no regex engine at all —
    when dotfile exclusion is off and case matters. Proven equivalent
    to the compiled regex: a key starting ``prefix/`` and ending
    ``.ext`` (with no overlap, hence the length guard) always parses
    as prefix, zero-or-more segments, and a basename ending ``.ext``.
    """
    if not dot or nocase:
        return None
    m = _FAST_FORM.match(pattern)
    if not m:
        return None
    prefix, ext = m.groups()
    if prefix is None:
        return c.endswith(ext)
    return (
        c.startswith(prefix + "/")
        & c.endswith(ext)
        & (F.length(c) >= F.lit(len(prefix) + 1 + len(ext)))
    )


def glob_match(col: Column | str, patterns: str | list[str], *, dot: bool = False, nocase: bool = False) -> Column:
    """Boolean Column: key matches the micromatch pattern list.

    Positive patterns OR together; ``!``-negated patterns subtract
    (micromatch list semantics, src/index.ts:644-650). Common
    ``prefix/**/*.ext`` forms compile to startswith/endswith string
    predicates (the reference's matchFast idea); everything else is
    ``rlike`` — either way codegen'd, pushdown-friendly, no Python on
    executors. The one exception (r13): the ``!()`` pattern class no
    single Java regex can express (variable-width body + variable-width
    trailing context, or nested ``!()``) routes through an
    Arrow-batched pandas UDF over the bash-exact split-enumerating
    matcher, so the Column surface is exact for EVERY pattern; the
    regex fast path keeps every other shape.
    """
    c = F.col(col) if isinstance(col, str) else col
    pos, neg = split_patterns(patterns)
    if pos:
        cond = None
        for p in pos:
            r = _pattern_predicate(c, p, dot, nocase)
            cond = r if cond is None else (cond | r)
    else:
        cond = F.lit(neg != [])  # all-negative list: start from "all paths"
    for p in neg:
        cond = cond & ~_pattern_predicate(c, p, dot, nocase)
    return cond


def _pattern_predicate(c: Column, pattern: str, dot: bool, nocase: bool) -> Column:
    """One glob as a boolean Column: the startswith/endswith fast form
    when it applies, else ``rlike`` on the compiled regex, else the
    exact Arrow-batched matcher for the ``!()`` class no single regex
    can express."""
    fast = _fast_predicate(c, pattern, dot, nocase)
    if fast is not None:
        return fast
    if glob_regex_is_exact(pattern, dot):
        return c.rlike(glob_to_regex(pattern, dot=dot, nocase=nocase))
    return _exact_match_column(c, pattern, dot, nocase)


def _exact_match_column(c: Column, pattern: str, dot: bool, nocase: bool) -> Column:
    """Arrow-batched exact matcher for the ``!()`` class the single
    regex cannot express (see :func:`glob_regex_is_exact`). Pure
    per-row string work over Arrow batches — no state, no shuffle —
    and it engages only for this rare pattern class, so the 100 TB
    posture is unchanged: every other pattern stays JVM-side."""
    import pandas as pd  # local: keep module import light
    from pyspark.sql import SparkSession
    from pyspark.sql.functions import pandas_udf

    # the closure references match_exact by module reference — make the
    # package importable on executor workers even when the driver was
    # launched without the repo on PYTHONPATH (same contract as every
    # mapInPandas kernel in this package)
    active = SparkSession.getActiveSession()
    if active is not None:
        from rehiver_spark.session import ship_package

        ship_package(active)

    def _batch(s):
        return s.map(
            lambda x: None
            if x is None
            else match_exact(x, pattern, dot=dot, nocase=nocase)
        )

    # real type objects, not strings: this module uses
    # ``from __future__ import annotations`` and pandas is imported
    # locally, so inline hints would stringize and fail to resolve in
    # pyspark's signature inference
    _batch.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(_batch, "boolean")(c)


def glob_all(col: Column | str, patterns: list[str], *, dot: bool = False, nocase: bool = False) -> Column:
    """True iff EVERY pattern matches (reference PathMatcher.all,
    src/index.ts:718-724); each pattern compiles exactly as in
    :func:`glob_match`. An empty list is vacuously true."""
    if not patterns:
        return F.lit(True)
    c = F.col(col) if isinstance(col, str) else col
    cond = _pattern_predicate(c, patterns[0], dot, nocase)
    for p in patterns[1:]:
        cond = cond & _pattern_predicate(c, p, dot, nocase)
    return cond


def path_capture(col: Column | str, pattern: str) -> Column:
    """ARRAY<STRING> of captured values, NULL when the path does not
    match (reference PathMatcher.capture, src/index.ts:733-765)."""
    c = F.col(col) if isinstance(col, str) else col
    regex, names = capture_to_regex(pattern)
    if not names:
        return F.when(c.rlike(regex), F.array().cast("array<string>"))
    arr = F.array(*[F.regexp_extract(c, regex, i + 1) for i in range(len(names))])
    return F.when(c.rlike(regex), arr)


def segment_glob_match(col: Column | str, pattern: str) -> Column:
    """Segment-anchored glob (HivePartitionParser.matchesGlob,
    src/index.ts:1750-1793): equal segment count; within a segment
    ``*`` → ``.*`` and ``?`` → ``.`` (so ``*`` may cross ``=`` but not ``/``)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.rlike(segment_glob_to_regex(pattern))


@lru_cache(maxsize=1024)
def segment_glob_to_regex(pattern: str) -> str:
    segs = pattern.split("/")
    parts = []
    for seg in segs:
        # [^/] (not .) — the reference compares per SEGMENT, so its .*
        # can never cross a '/'; a whole-path regex must forbid it
        # explicitly or 'year=*' would swallow '/month=01' and break
        # the equal-segment-count contract
        body = "".join(
            "[^/]*" if ch == "*" else "[^/]" if ch == "?" else _escape(ch)
            for ch in seg
        )
        parts.append(body)
    return "^" + "/".join(parts) + "$"


# ---------------------------------------------------------------------------
# Driver-side API (path resolution before .load() — this IS partition
# pruning for non-hive layouts; never ship to executors)
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# Exact driver-side matching for hard '!()' negation (round 8)
#
# bash's ∃-split rule "some decomposition run·tail has run≁p and
# tail~rest" needs variable-width lookbehind in general, which neither
# Python `re` nor Java regex has. The single-regex compilation is
# exact whenever the split set is tractable (narrowed in r13): literal
# rest (unique split), '!(p)*' with non-empty p (≡ '*'), FIXED-WIDTH
# rest (unique split — compiled, not escaped), and FIXED-WIDTH body
# alts with ANY rest (only i ∈ {alt widths} can match p, so the
# ∃-splits enumerate as run-length alternation with fixed-width
# negative lookaheads). What remains divergent Column-side, pinned vs
# real bash in tests/test_globs.py: '!()' nested inside another
# extglob with following context (permissive — the segment-end anchor
# cannot apply), and variable-width body TOGETHER WITH variable-width
# rest ('!(a|b*)b*'), where the fallback's whole-segment exclusion can
# also over-reject (bash accepts 'bb' via the empty-run split).
# Driver-side we are not limited to one regex: decompose the pattern
# at the first hard '!()' occurrence, enumerate the run·tail splits
# directly (paths are short strings), and verify the simple chunks
# with the SAME translator — so every non-negation feature behaves
# identically to the Column path by construction, and match_exact is
# bash-exact on every pinned row.
# ---------------------------------------------------------------------------


def _scan_first_hard_extglob(pattern: str):
    """Locate the first top-level extglob that needs split enumeration:
    a '!(...)' itself, or any extglob whose alternates contain one
    (the nested case). Returns (start, type_char, alts, end) or None —
    None means the single-regex translation is already exact."""
    i, n = 0, len(pattern)
    while i < n:
        c = pattern[i]
        if c == "[":
            j = i + 1
            if j < n and pattern[j] in "!^":
                j += 1
            if j < n and pattern[j] == "]":
                j += 1
            j = _scan_class_end(pattern, j)
            i = i + 1 if j >= n else j + 1
            continue
        if c in "@!+*?" and i + 1 < n and pattern[i + 1] == "(":
            parsed = _parse_extglob_alts(pattern, i)
            if parsed is not None:
                alts, j = parsed
                if c == "!" or any("!(" in a for a in alts):
                    return i, c, alts, j
                i = j
                continue
        i += 1
    return None


@lru_cache(maxsize=4096)
def _anchored_suffix_re(
    pattern: str, dot: bool, nocase: bool, seg_start: bool
) -> re.Pattern:
    body = _translate_one(pattern, dot, seg_start0=seg_start)
    return re.compile(("(?i)" if nocase else "") + "^" + body + "$")


def _run_matches(typ: str, alts: tuple, run: str, nocase: bool) -> bool:
    """Does ``run`` satisfy one extglob occurrence? Alternates are
    matched with dot=True (the translator's rule: the leading-dot
    guard belongs to the segment, not the nested alternates)."""

    def full(a: str, r: str) -> bool:
        return _exact_match(a, r, True, nocase, seg_start=False)

    if typ == "@":
        return any(full(a, run) for a in alts)
    if typ == "!":
        return not any(full(a, run) for a in alts)
    if typ == "?":
        return run == "" or any(full(a, run) for a in alts)
    # '*' (zero or more) / '+' (one or more): concatenation DP
    if run == "":
        return typ == "*" or any(full(a, "") for a in alts)
    n = len(run)
    reach = [False] * (n + 1)
    reach[0] = True
    for p in range(n + 1):
        if reach[p]:
            for q in range(p + 1, n + 1):
                if not reach[q] and any(full(a, run[p:q]) for a in alts):
                    reach[q] = True
    return reach[n]


def _exact_match(
    pattern: str,
    path: str,
    dot: bool,
    nocase: bool,
    seg_start: bool = True,
) -> bool:
    """Bash-exact match of one brace-free glob against one path.

    Everything up to the first hard '!()' occurrence is matched with
    the shared regex translator (so classes, posix names, globstar,
    simple extglobs behave exactly as the Column path); at the hard
    occurrence every split of the current segment is enumerated per
    the bash rule, recursing into the pattern remainder (which may
    itself hold further hard negations). O(|path|²) splits per hard
    occurrence — driver-side path strings are short, and this runs
    only for patterns containing '!('."""
    hard = _scan_first_hard_extglob(pattern)
    if hard is None:
        return (
            _anchored_suffix_re(pattern, dot, nocase, seg_start).fullmatch(path)
            is not None
        )
    i, typ, alts, j = hard
    prefix, rest = pattern[:i], pattern[j:]
    pre_seg_start = seg_start if not prefix else prefix.endswith("/")
    pre_re = _anchored_suffix_re(prefix, dot, nocase, seg_start)
    alts_t = tuple(alts)
    for k in range(len(path) + 1):
        if pre_re.fullmatch(path, 0, k) is None:
            continue
        # leading-dot guard before an extglob at segment start: the
        # translator emits (?!\.) here, which fails the position as a
        # whole — every split at this k is rejected alike
        if pre_seg_start and not dot and k < len(path) and path[k] == ".":
            continue
        seg_end = path.find("/", k)
        seg_end = len(path) if seg_end < 0 else seg_end
        for jj in range(k, seg_end + 1):
            if _run_matches(typ, alts_t, path[k:jj], nocase) and _exact_match(
                rest, path[jj:], dot, nocase, seg_start=False
            ):
                return True
    return False


def match_exact(
    path: str, pattern: str, *, dot: bool = False, nocase: bool = False
) -> bool:
    """Public driver-side exact matcher: brace-expands, then matches
    each expansion bash-exactly (hard '!()' negation included)."""
    return any(
        _exact_match(p, path, dot, nocase) for p in expand_braces(pattern)
    )


class PathMatcher:
    """Driver-side matcher mirroring the reference PathMatcher
    (src/index.ts:613-765). Used to resolve concrete paths before
    ``spark.read.load(paths)`` so Spark only opens matching files.

    Since round 8, patterns containing ``!(`` route through the exact
    split-enumerating matcher (:func:`match_exact`) — bash-exact for
    the two classes the single-regex compilation leaves permissive;
    all other patterns keep the shared compiled-regex path."""

    def __init__(self, dot: bool = False, nocase: bool = False):
        self.dot = dot
        self.nocase = nocase

    def _re(self, pattern: str) -> re.Pattern:
        return re.compile(glob_to_regex(pattern, dot=self.dot, nocase=self.nocase))

    def _hit(self, path: str, pattern: str) -> bool:
        if "!(" in pattern:  # hard negation possible → exact path
            return match_exact(path, pattern, dot=self.dot, nocase=self.nocase)
        return self._re(pattern).match(path) is not None

    def is_match(self, path: str, patterns: str | list[str]) -> bool:
        pos, neg = split_patterns(patterns)
        ok = any(self._hit(path, p) for p in pos) if pos else bool(neg)
        return ok and not any(self._hit(path, p) for p in neg)

    def match(self, paths: list[str], patterns: str | list[str]) -> list[str]:
        return [p for p in paths if self.is_match(p, patterns)]

    # matchFast (src/index.ts:683-694) collapses into match: regex
    # compile is cached in glob_to_regex; same plan (SURVEY §4 row 4).
    match_fast = match

    def not_match(self, paths: list[str], patterns: str | list[str]) -> list[str]:
        return [p for p in paths if not self.is_match(p, patterns)]

    def all(self, path: str, patterns: list[str]) -> bool:
        return all(self._hit(path, p) for p in patterns)

    def capture(self, pattern: str, path: str) -> list[str] | None:
        regex, _ = capture_to_regex(pattern)
        m = re.match(regex, path)
        return list(m.groups()) if m else None
