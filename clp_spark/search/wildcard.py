"""CLP wildcard language: `*` = any chars (incl. none), `?` = any one char.

Semantics from the reference's matcher
(/root/reference/components/core/src/clp/string_utils/string_utils.hpp:119-154):
whole-string match, optional case-insensitivity, `\\` escapes a literal
`*`/`?`/`\\`. `*` spans newlines (messages can be multi-line).
"""

from __future__ import annotations

import re


def wildcard_to_regex(pattern: str, ignore_case: bool = False) -> re.Pattern:
    """Compile a CLP wildcard pattern to an anchored Python regex."""
    out = []
    i, n = 0, len(pattern)
    while i < n:
        c = pattern[i]
        if c == "\\" and i + 1 < n:
            out.append(re.escape(pattern[i + 1]))
            i += 2
            continue
        if c == "*":
            out.append(".*")
        elif c == "?":
            out.append(".")
        else:
            out.append(re.escape(c))
        i += 1
    flags = re.DOTALL | (re.IGNORECASE if ignore_case else 0)
    return re.compile("".join(out), flags)


def wildcard_to_java_regex(pattern: str, ignore_case: bool = False) -> str:
    """Same translation but emitting a Java-regex string for `rlike`.

    Literal runs are wrapped in \\Q...\\E quoting (Java-only construct) so
    no per-character escaping differences can creep in.
    """
    out = ["(?s)"]
    if ignore_case:
        out.append("(?i)")
    lit: list[str] = []

    def flush():
        if lit:
            s = "".join(lit)
            out.append("\\Q" + s.replace("\\E", "\\E\\\\E\\Q") + "\\E")
            lit.clear()

    i, n = 0, len(pattern)
    while i < n:
        c = pattern[i]
        if c == "\\" and i + 1 < n:
            lit.append(pattern[i + 1])
            i += 2
            continue
        if c == "*":
            flush()
            out.append(".*")
        elif c == "?":
            flush()
            out.append(".")
        else:
            lit.append(c)
        i += 1
    flush()
    return "".join(out)


def wildcard_to_re2(pattern: str, ignore_case: bool = False) -> str:
    """Same translation as an anchored RE2 pattern (pyarrow.compute's
    regex engine) that matches exactly the strings the Java regex of
    wildcard_to_java_regex matches under `rlike`.

    Literals are escaped one character at a time (`\\Q…\\E` would end
    early on a literal `\\E`). Case folding is spelt out as `[xX]` for
    ASCII letters only, with no `(?i)`: Java's `(?i)` folds ASCII only,
    while RE2's also folds e.g. U+212A KELVIN SIGN to `k`.
    """
    out = ["(?s)\\A"]
    i, n = 0, len(pattern)
    while i < n:
        c = pattern[i]
        if c == "\\" and i + 1 < n:
            out.append(_re2_literal(pattern[i + 1], ignore_case))
            i += 2
            continue
        if c == "*":
            out.append(".*")
        elif c == "?":
            out.append(".")
        else:
            out.append(_re2_literal(c, ignore_case))
        i += 1
    out.append("\\z")
    return "".join(out)


def _re2_literal(c: str, ignore_case: bool) -> str:
    if c.isascii() and c.isalnum():
        if ignore_case and c.isalpha():
            return f"[{c.lower()}{c.upper()}]"
        return c
    return f"\\x{{{ord(c):x}}}"


def wildcard_match(pattern: str, text: str, ignore_case: bool = False) -> bool:
    """Whole-string wildcard match (oracle-side helper)."""
    return wildcard_to_regex(pattern, ignore_case).fullmatch(text) is not None


def has_wildcard(pattern: str) -> bool:
    """Does the pattern hold an unescaped `*` or `?`?"""
    i, n = 0, len(pattern)
    while i < n:
        c = pattern[i]
        if c == "\\":
            i += 2
            continue
        if c in ("*", "?"):
            return True
        i += 1
    return False
