"""Postgres DSN parsing with environment-variable substitution.

Behavioral port of the reference's DSN handling (postgres/dsn.go:10-57;
golden vectors postgres/dsn_test.go:10-40): ``$VAR`` / ``${VAR}`` forms —
plus the bash-style ``${VAR:-default}`` / ``${VAR:+alternate}`` subset of
the envsubst grammar the reference links — expand BEFORE URL parsing, so
secrets live in the environment and never in command lines or shell
history.  The parsed DSN renders to the libpq keyword/value form
``host=... port=... user=... dbname=... <sorted options> [password=...]``
that libpq (and so the psql CLI) accepts.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field
from typing import Callable, Mapping
from urllib.parse import parse_qs, unquote, urlsplit

# $VAR, ${VAR}, ${VAR<op>word} with op in {-, :-, +, :+, =, :=, ?, :?}
_VAR = re.compile(
    r"\$(?:(\w+)|\{(\w+)(?:(:?[-+=?])((?:[^{}]|\{[^{}]*\})*))?\})"
)


def envsubst(text: str, mapper: Callable[[str], str] | None = None) -> str:
    """Expand ``$VAR``-style references via ``mapper`` (default: process
    environment; unset names expand to "" exactly like Go's os.Getenv).

    Supported operators mirror the envsubst grammar the reference links:
    ``${V-w}``/``${V:-w}`` default, ``${V+w}``/``${V:+w}`` alternate,
    ``${V=w}``/``${V:=w}`` treated as default (no shell state to assign),
    ``${V?m}``/``${V:?m}`` raise ValueError when the value is empty.
    """
    if mapper is None:
        mapper = lambda name: os.environ.get(name, "")

    def repl(m: re.Match) -> str:
        name = m.group(1) or m.group(2)
        op, word = m.group(3), m.group(4) or ""
        val = mapper(name) or ""
        if op is None:
            return val
        op = op.lstrip(":")
        if op in ("-", "="):
            return val if val else word
        if op == "+":
            return word if val else ""
        if op == "?":
            if not val:
                raise ValueError(
                    f"variables expansion failed: {name} is unset"
                    + (f": {word}" if word else "")
                )
            return val
        return val  # unreachable: the regex admits only the ops above

    out = _VAR.sub(repl, text)
    # Malformed or unsupported ${...} forms (unclosed brace, operators
    # outside the ported subset) fall through the regex untouched; the
    # reference's envsubst.Eval errors on them, and silently passing a
    # typo'd DSN to URL parsing hides the mistake.  Inspect the residue
    # of the INPUT with every recognized form removed, so expansions
    # whose *values* contain "${" never false-positive.
    if "${" in _VAR.sub("", text):
        raise ValueError(
            f"variables expansion failed: malformed ${{...}} reference in {text!r}"
        )
    return out


@dataclass
class DSN:
    """Parsed postgresql:// DSN (ref postgres/dsn.go:59-76)."""

    original: str
    host: str
    port: int
    database: str
    username: str
    password: str
    options: list[str] = field(default_factory=list)

    def dsn(self) -> str:
        """Render the libpq keyword/value form — byte-compatible with the
        reference's DSN() (dsn.go:69-75), password last and only when
        non-empty."""
        out = (
            f"host={self.host} port={self.port} user={self.username} "
            f"dbname={self.database} {' '.join(self.options)}"
        )
        if self.password:
            out += " password=" + self.password
        return out

    def __str__(self) -> str:
        return self.original


def parse_dsn(
    dsn: str, env: Mapping[str, str] | None = None
) -> DSN:
    """Env-substitute then parse a ``postgresql://`` URL DSN.

    Semantics track parseDSN (ref postgres/dsn.go:18-57): scheme must be
    exactly ``postgresql``; port defaults to 5432 unless the authority
    carries an explicit ``:port``; the database is the path without its
    leading slash; query options sort by key with multi-values
    comma-joined; userinfo percent-escapes decode (secrets often carry
    URL-hostile characters).
    """
    mapper = None if env is None else (lambda name: env.get(name, ""))
    return _parse_url(envsubst(dsn, mapper), original=dsn)


def _parse_url(expanded: str, original: str) -> DSN:
    u = urlsplit(expanded)
    if u.scheme != "postgresql":
        raise ValueError(
            f'invalid scheme {u.scheme!r}, should be "postgresql"'
        )
    # Port defaults to 5432 unless explicitly present.  (Deliberate
    # deviation from dsn.go:36-39, which keys on ':' anywhere in the host
    # and therefore renders port=0 for a bracketed IPv6 literal without a
    # port; urlsplit's parsed port is authoritative here.)
    try:
        port = 5432 if u.port is None else u.port
    except ValueError:
        port = 0
    query = parse_qs(u.query, keep_blank_values=True)
    options = [f"{k}={','.join(query[k])}" for k in sorted(query)]
    return DSN(
        original=original,
        host=u.hostname or "",
        port=port,
        # exactly ONE leading slash, like the reference's TrimPrefix
        # (dsn.go): postgresql://h//db is dbname=/db, not dbname=db
        database=u.path.removeprefix("/"),
        username=unquote(u.username or ""),
        password=unquote(u.password or ""),
        options=options,
    )


def expand_dsn(dsn: str, env: Mapping[str, str] | None = None) -> str:
    """Entry-point normalization for everything that talks to Postgres:
    env-substitute, and if the result is a ``postgresql://`` URL, parse +
    re-render it to keyword form.  Keyword-form DSNs pass through with
    substitution only, so existing callers keep working and a whole-DSN
    secret (``${PG_DSN}``) expands either way."""
    mapper = None if env is None else (lambda name: env.get(name, ""))
    expanded = envsubst(dsn, mapper)
    if expanded.startswith("postgresql://"):
        # substitution already happened; parse the expanded form directly
        # (re-substituting could mangle a secret containing a literal $)
        return _parse_url(expanded, original=dsn).dsn()
    return expanded
