"""Minimal HOCON-subset parser (no external deps).

The reference ships its pipeline specs as HOCON
(``configs/cdc-postgres-to-delta.conf``) consumed through Typesafe
Config; this module parses the subset those configs actually use so the
same files load here without pyhocon:

- ``#`` and ``//`` comments
- ``key = value`` / ``key : value`` / ``key { ... }`` objects
- dotted keys (``a.b.c = v`` expands to nested objects, Typesafe-style)
- quoted and unquoted scalar values (bool/int/float/null coercion)
- arrays of scalars or objects, comma- or newline-separated
- a braceless root object

Deliberately NOT supported (absent from the reference configs):
``${subst}`` substitutions, ``include``, value concatenation,
triple-quoted strings. Each raises ``ConfigError`` so misuse is loud.
"""

from __future__ import annotations

from lakehouse_ingestion_spark.errors import ConfigError


def parse_hocon(text: str) -> dict:
    p = _Parser(text)
    obj = p.parse_root()
    return obj


def flatten_keys(obj: dict, prefix: str = "") -> dict:
    """Collapse nested mappings back to dotted keys (``bootstrap.servers``
    style) — the shape Spark option maps want, mirroring Typesafe's
    ``entrySet`` view that the reference feeds to ``option()`` calls."""
    out: dict = {}
    for k, v in obj.items():
        key = f"{prefix}.{k}" if prefix else k
        if isinstance(v, dict):
            out.update(flatten_keys(v, key))
        else:
            out[key] = v
    return out


def unflatten_keys(obj: dict, keys, depth: int = 1) -> dict:
    """Inverse of ``flatten_keys`` for the mapping-valued ``keys``: fold
    ``<key>.<rest>`` entries back into one mapping under ``key``
    (``budgets.wiki: 5`` -> ``budgets: {wiki: 5}``).  ``rest`` splits at
    its first ``depth - 1`` dots (depth 2: ``sinks.a.path`` ->
    ``sinks: {a: {path: ...}}``); later dots stay in the innermost key,
    since stratum or split names may hold dots.  A key given nested wins
    and its dotted entries are dropped; other entries pass through."""
    out = {k: v for k, v in obj.items() if not any(k.startswith(p + ".") for p in keys)}
    for key in keys:
        if key in obj:
            continue
        pref = key + "."
        sub: dict = {}
        for k, v in obj.items():
            if k.startswith(pref):
                *path, leaf = k[len(pref):].split(".", depth - 1)
                node = sub
                for part in path:
                    node = node.setdefault(part, {})
                node[leaf] = v
        if sub:
            out[key] = sub
    return out


class _Parser:
    def __init__(self, text: str):
        self.s = text
        self.i = 0
        self.n = len(text)

    # -- low-level ---------------------------------------------------------
    def _err(self, msg: str) -> ConfigError:
        line = self.s.count("\n", 0, self.i) + 1
        return ConfigError(f"HOCON parse error at line {line}: {msg}")

    def _skip_ws(self, newlines: bool = True) -> None:
        while self.i < self.n:
            c = self.s[self.i]
            if c == "#" or self.s.startswith("//", self.i):
                while self.i < self.n and self.s[self.i] != "\n":
                    self.i += 1
            elif c == "\n" and not newlines:
                return
            elif c.isspace():
                self.i += 1
            else:
                return

    def _peek(self) -> str:
        return self.s[self.i] if self.i < self.n else ""

    # -- grammar -----------------------------------------------------------
    def parse_root(self) -> dict:
        self._skip_ws()
        if self._peek() == "{":
            obj = self._parse_object()
        else:
            obj = self._parse_members(end=None)
        self._skip_ws()
        if self.i < self.n:
            raise self._err(f"unexpected trailing content {self.s[self.i:self.i+20]!r}")
        return obj

    def _parse_object(self) -> dict:
        assert self._peek() == "{"
        self.i += 1
        obj = self._parse_members(end="}")
        if self._peek() != "}":
            raise self._err("unterminated object (missing '}')")
        self.i += 1
        return obj

    def _parse_members(self, end: str | None) -> dict:
        obj: dict = {}
        while True:
            self._skip_ws()
            if self.i >= self.n or (end is not None and self._peek() == end):
                return obj
            if self._peek() in ",":
                self.i += 1
                continue
            key, quoted = self._parse_key()
            self._skip_ws(newlines=False)
            c = self._peek()
            if c == "{":
                val = self._parse_object()
            elif c in "=:":
                self.i += 1
                self._skip_ws(newlines=False)
                val = self._parse_value()
            else:
                raise self._err(f"expected '=', ':' or '{{' after key {key!r}")
            # HOCON: a QUOTED key is one literal path segment —
            # "bootstrap.servers" must not expand into nested objects
            _assign_path(obj, [key] if quoted else key.split("."), val, self._err)

    def _parse_key(self) -> tuple[str, bool]:
        if self._peek() == '"':
            return self._parse_quoted(), True
        start = self.i
        while self.i < self.n and (
            self.s[self.i].isalnum() or self.s[self.i] in "._-"
        ):
            self.i += 1
        if self.i == start:
            raise self._err(f"expected a key, found {self._peek()!r}")
        return self.s[start:self.i], False

    def _parse_value(self):
        c = self._peek()
        if c == "{":
            return self._parse_object()
        if c == "[":
            return self._parse_array()
        if c == '"':
            return self._parse_quoted()
        if c == "$":
            raise self._err("${...} substitutions are not supported")
        # unquoted scalar: runs to end of line, ',', ']' or '}'
        start = self.i
        while self.i < self.n and self.s[self.i] not in "\n,]}#":
            if self.s.startswith("//", self.i):
                break
            self.i += 1
        raw = self.s[start:self.i].strip()
        if not raw:
            raise self._err("empty value")
        return _coerce(raw)

    def _parse_array(self) -> list:
        assert self._peek() == "["
        self.i += 1
        out = []
        while True:
            self._skip_ws()
            if self.i >= self.n:
                raise self._err("unterminated array (missing ']')")
            c = self._peek()
            if c == "]":
                self.i += 1
                return out
            if c == ",":
                self.i += 1
                continue
            out.append(self._parse_value())

    def _parse_quoted(self) -> str:
        assert self._peek() == '"'
        if self.s.startswith('"""', self.i):
            raise self._err("triple-quoted strings are not supported")
        self.i += 1
        out = []
        while self.i < self.n:
            c = self.s[self.i]
            if c == "\\" and self.i + 1 < self.n:
                nxt = self.s[self.i + 1]
                out.append({"n": "\n", "t": "\t", '"': '"', "\\": "\\"}.get(nxt, nxt))
                self.i += 2
            elif c == '"':
                self.i += 1
                return "".join(out)
            elif c == "\n":
                raise self._err("newline in quoted string")
            else:
                out.append(c)
                self.i += 1
        raise self._err("unterminated quoted string")


def _assign_path(obj: dict, path: list[str], val, err) -> None:
    cur = obj
    for part in path[:-1]:
        nxt = cur.get(part)
        if nxt is None:
            nxt = cur[part] = {}
        elif not isinstance(nxt, dict):
            raise err(f"key path {'.'.join(path)!r} collides with a scalar")
        cur = nxt
    leaf = path[-1]
    if isinstance(cur.get(leaf), dict) and isinstance(val, dict):
        # HOCON object merge: later keys deep-merge into earlier ones
        _deep_merge(cur[leaf], val)
    else:
        cur[leaf] = val


def _deep_merge(dst: dict, src: dict) -> None:
    for k, v in src.items():
        if isinstance(dst.get(k), dict) and isinstance(v, dict):
            _deep_merge(dst[k], v)
        else:
            dst[k] = v


def _coerce(raw: str):
    low = raw.lower()
    if low == "true":
        return True
    if low == "false":
        return False
    if low == "null":
        return None
    try:
        return int(raw)
    except ValueError:
        pass
    try:
        return float(raw)
    except ValueError:
        pass
    return raw
