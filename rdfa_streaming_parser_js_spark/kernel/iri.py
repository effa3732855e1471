"""Relative→absolute IRI resolution (RFC 3986 §5).

The reference delegates this to the `relative-to-absolute-iri` npm package
(/root/reference/lib/Util.ts:3, package.json dependency). This is an
independent RFC 3986 implementation with the same observable behavior on
the reference's test corpus:

- absolute refs (with a scheme) are returned as-is,
- an empty ref returns the base as-is,
- a fragment-only ref ("#it") is the base up to its own fragment plus the
  ref, without the RFC split (§5.2.2 with an empty path and no query),
- an invalid/empty base returns the ref as-is (the kernel's IRI validity
  filter downstream drops anything unusable, /root/reference/lib/Util.ts:127).
"""

from __future__ import annotations

import re

SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:")
# RFC 3986 appendix B parsing regex; a fragment may hold any character.
_IRI_PARTS_RE = re.compile(
    r"^(?:([^:/?#]+):)?(?://([^/?#]*))?([^?#]*)(?:\?([^#]*))?(?:#(.*))?$",
    re.DOTALL)
# Its scheme part alone: whether ``_split`` finds a scheme.
_PARTS_SCHEME_RE = re.compile(r"[^:/?#]+:")


def _split(iri: str):
    m = _IRI_PARTS_RE.match(iri)
    assert m is not None  # the regex matches any string
    return m.group(1), m.group(2), m.group(3) or "", m.group(4), m.group(5)


def remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4 remove_dot_segments."""
    output: list[str] = []
    while path:
        if path.startswith("../"):
            path = path[3:]
        elif path.startswith("./"):
            path = path[2:]
        elif path.startswith("/./"):
            path = "/" + path[3:]
        elif path == "/.":
            path = "/"
        elif path.startswith("/../"):
            path = "/" + path[4:]
            if output:
                output.pop()
        elif path == "/..":
            path = "/"
            if output:
                output.pop()
        elif path in (".", ".."):
            path = ""
        else:
            if path.startswith("/"):
                idx = path.find("/", 1)
            else:
                idx = path.find("/")
            if idx < 0:
                output.append(path)
                path = ""
            else:
                output.append(path[:idx])
                path = path[idx:]
    return "".join(output)


def _recompose(scheme, authority, path, query, fragment) -> str:
    out = []
    if scheme is not None:
        out.append(scheme + ":")
    if authority is not None:
        out.append("//" + authority)
    out.append(path)
    if query is not None:
        out.append("?" + query)
    if fragment is not None:
        out.append("#" + fragment)
    return "".join(out)


def resolve(ref: str | None, base: str | None) -> str:
    """Resolve ``ref`` against ``base`` per RFC 3986 §5.2."""
    ref = ref or ""
    if not base:
        return ref
    if not ref:
        return base
    if SCHEME_RE.match(ref):
        return ref
    if ref[0] == "#":
        if _PARTS_SCHEME_RE.match(base) is None:
            return ref
        return base.partition("#")[0] + ref
    return _resolve_split(ref, base)


def _resolve_split(ref: str, base: str) -> str:
    """§5.2.2 over the split ref and base; ``resolve`` checks the
    guards first."""
    b_scheme, b_auth, b_path, b_query, _b_frag = _split(base)
    if b_scheme is None:
        # Invalid base (no scheme): leave the ref untouched; the IRI
        # validity filter drops it later if unusable.
        return ref
    r_scheme, r_auth, r_path, r_query, r_frag = _split(ref)
    if r_auth is not None:
        t = (b_scheme, r_auth, remove_dot_segments(r_path), r_query, r_frag)
    elif not r_path:
        t = (b_scheme, b_auth, b_path, r_query if r_query is not None else b_query, r_frag)
    elif r_path.startswith("/"):
        t = (b_scheme, b_auth, remove_dot_segments(r_path), r_query, r_frag)
    else:
        if b_auth is not None and not b_path:
            merged = "/" + r_path
        else:
            slash = b_path.rfind("/")
            merged = (b_path[: slash + 1] + r_path) if slash >= 0 else r_path
        t = (b_scheme, b_auth, remove_dot_segments(merged), r_query, r_frag)
    return _recompose(*t)
