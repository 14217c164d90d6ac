"""Injection-safe SQL assembly helpers.

Parity: /root/reference/term-guard/src/security.rs:89-384 — identifier
validation/escaping, SQL-expression screening (no statement separators,
DML/DDL, comments) and regex ReDoS screening. Applied
before any user string reaches ``F.expr`` or a view name.
"""

from __future__ import annotations

import re
from typing import Iterable

_IDENTIFIER_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")

_FORBIDDEN_EXPR_TOKENS = (
    ";", "--", "/*", "*/",
)
# Statement keywords that must not appear in a boolean predicate
# (security.rs:284 — DML/DDL screening).
_FORBIDDEN_EXPR_KEYWORDS = re.compile(
    r"\b(insert|update|delete|drop|create|alter|truncate|grant|revoke|attach|copy|merge|call|exec(ute)?)\b",
    re.IGNORECASE,
)

_MAX_REGEX_LEN = 1000


class SecurityError(ValueError):
    pass


def validate_identifier(name: str) -> str:
    """Validate a column/table identifier; returns it unchanged.

    Backtick-quoted escape is applied separately by `quote_identifier`
    when the name is interpolated into SQL text.
    """
    if not isinstance(name, str) or not name:
        raise SecurityError("identifier must be a non-empty string")
    if not _IDENTIFIER_RE.match(name):
        raise SecurityError(f"invalid identifier: {name!r}")
    return name


def quote_identifier(name: str) -> str:
    validate_identifier(name)
    return f"`{name}`"


def validate_identifiers(names: Iterable[str]) -> list:
    return [validate_identifier(n) for n in names]


def validate_sql_expression(expr: str) -> str:
    """Screen a user-provided boolean SQL expression (`satisfies`)."""
    if not isinstance(expr, str) or not expr.strip():
        raise SecurityError("SQL expression must be a non-empty string")
    lowered = expr.lower()
    for tok in _FORBIDDEN_EXPR_TOKENS:
        if tok in lowered:
            raise SecurityError(f"forbidden token {tok!r} in SQL expression")
    if _FORBIDDEN_EXPR_KEYWORDS.search(expr):
        raise SecurityError("DML/DDL keywords are not allowed in SQL expressions")
    return expr


def validate_regex_pattern(pattern: str) -> str:
    """Screen a regex for obvious ReDoS shapes (security.rs:258)."""
    if not isinstance(pattern, str) or not pattern:
        raise SecurityError("regex pattern must be a non-empty string")
    if len(pattern) > _MAX_REGEX_LEN:
        raise SecurityError("regex pattern too long")
    # nested quantifiers like (a+)+ / (a*)* / (a+)* — the classic
    # catastrophic-backtracking shapes.
    if re.search(r"\([^)]*[+*]\)[+*]", pattern):
        raise SecurityError("nested quantifier in regex pattern (ReDoS risk)")
    try:
        re.compile(pattern)
    except re.error as exc:
        raise SecurityError(f"invalid regex pattern: {exc}") from exc
    return pattern
