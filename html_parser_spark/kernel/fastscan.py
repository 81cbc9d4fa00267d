"""Loader/integration for the optional C fast-scan tokenizer and the
fused C tree builder.

The accelerator (kernel/_fastscan.c) is an all-or-nothing subset
scanner: `make_feed(text, errors)` returns a drop-in replacement for
the Tokenizer drive interface (next()/state/allow_cdata/errors/skipped)
when the document lies in the provably-token-identical subset, else
None and the caller uses the pure-Python tokenizer.  See the C file's
header comment for the exact subset contract.

`fused_extract` scans and builds the tree in C as well, returning the
extraction directly (udfs.parse_turn's markup path uses it).  Its
builder covers foreign content (SVG/MathML) too and answers the one
builder-to-tokenizer question, allow_cdata at a "<![CDATA[" opener,
itself, so it needs no CDATA gate and scans each input once.  The
fused subset is every scanner-accepted input except: a document-mode
IN_HEAD <meta> (the re-encode handshake), <frameset>, and fragment
contexts whose Python build does not start in IN_BODY.  On those it
hands the scanned records back as a FastFeed for the Python builder.
The Python builder is kept because it is the only path for those
inputs and for scanner bails, and it is the oracle the differential
tests and perfbench's HP_FASTSCAN=0 run compare against.

Build strategy (no Cython/mypyc in this environment; plain cc + the
CPython headers suffice): compile on first use into a content-hashed
cache under /tmp, loaded via importlib from the explicit path.  The
build is atomic (compile to a unique temp name, os.replace), so
concurrent Spark workers race safely: first one in wins, the rest see
the finished .so.  Any failure (no compiler, bad flags) degrades to
None and the pure-Python path runs — behavior is identical either way,
only speed differs.

Env:
  HP_FASTSCAN=0   disable the scanner AND the fused builder (pure Python
                  tokenizer and tree builder)
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
import sysconfig

_DISABLED = os.environ.get("HP_FASTSCAN", "1") == "0"
_mod = None
_tried = False


def _source_path() -> str:
    return os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "_fastscan.c")


def _cache_dir() -> str | None:
    """Per-user 0700 cache dir. A predictable world-writable /tmp path
    would let any local user pre-plant a .so that we'd dlopen (review
    finding) — so the cache lives in a directory OWNED by us with mode
    0700, verified by lstat after creation; anything off disables the
    accelerator rather than loading from it."""
    import stat
    import tempfile

    d = os.path.join(tempfile.gettempdir(),
                     f"hp_fastscan_u{os.getuid()}")
    try:
        os.makedirs(d, mode=0o700, exist_ok=True)
        st = os.lstat(d)
        if (not stat.S_ISDIR(st.st_mode) or st.st_uid != os.getuid()
                or (st.st_mode & 0o077)):
            return None
    except OSError:
        return None
    return d


def _build(src: str) -> str | None:
    """Compile the extension into the user cache keyed by source hash;
    atomic."""
    try:
        with open(src, "rb") as f:
            digest = hashlib.sha256(f.read()).hexdigest()[:16]
    except OSError:
        return None
    cache = _cache_dir()
    if cache is None:
        return None
    tag = f"hp_fastscan_{sys.version_info.major}{sys.version_info.minor}"
    out = os.path.join(cache, f"{tag}_{digest}.so")
    if os.path.exists(out):
        return out
    include = sysconfig.get_paths()["include"]
    tmp_out = f"{out}.build.{os.getpid()}"
    cmd = ["cc", "-O2", "-fPIC", "-shared", "-std=c11",
           f"-I{include}", src, "-o", tmp_out]
    try:
        proc = subprocess.run(cmd, capture_output=True, timeout=120)
        if proc.returncode != 0:
            return None
        os.replace(tmp_out, out)  # atomic: racing builders converge
        return out
    except Exception:
        return None
    finally:
        try:
            if os.path.exists(tmp_out):
                os.unlink(tmp_out)
        except OSError:
            pass


def _load():
    global _mod, _tried
    if _tried:
        return _mod
    _tried = True
    if _DISABLED:
        return None
    so = _build(_source_path())
    if so is None:
        return None
    try:
        import importlib.util

        spec = importlib.util.spec_from_file_location("_fastscan", so)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        _mod = mod
    except Exception:
        _mod = None
    return _mod


# raw/special context tags whose fragment tokenizer starts outside the
# DATA state (tokenizer_init_with_context): the scanner only models a
# DATA start, so those contexts stay on the Python tokenizer
_NON_DATA_CONTEXTS = frozenset((
    "title", "textarea", "style", "xmp", "iframe", "noembed",
    "noframes", "script",
))


_last_bail: str | None = None


def _gate(input_text: str, context_tag: str | None) -> str | None:
    """The Python-side gates of make_feed and fused_extract: the reason
    an input never reaches the C scanner, or None."""
    if _load() is None:
        return "unavailable"
    if not input_text:
        return "empty-input"
    if context_tag and context_tag[:31].lower() in _NON_DATA_CONTEXTS:
        return "gate-raw-context"
    return None


def make_feed(input_text: str, errors: list, context_tag: str | None = None):
    """Return a tokenizer-compatible feed, or None to use the Python
    tokenizer.  Safe default for every input: bails are silent."""
    global _last_bail
    _last_bail = _gate(input_text, context_tag)
    if _last_bail is None and context_tag and "<![CDATA[" in input_text:
        # a feed cannot ask the builder for allow_cdata; kept as the
        # conservative gate for fragments (fused_extract needs none:
        # its builder answers every CDATA opener)
        _last_bail = "gate-fragment-cdata"
    if _last_bail is not None:
        return None
    # the scanner delegates charref-bearing regions to the SAME decode
    # function the Python tokenizer uses (charref.py), so decoded text
    # and error strings are identical by construction
    from .charref import decode_character_references

    try:
        feed = _mod.make_feed(input_text, errors,
                              decode_character_references)
    except Exception:
        _last_bail = "error"
        return None
    _last_bail = _mod.bail_reason()
    return feed


def fused_extract(input_text: str, errors: list,
                  context_tag: str | None = None, document: bool = False):
    """Scan AND build in C: the extraction of ``input_text`` (already
    null-replaced) as ``(extracted_text, spans, node_count)``, with the
    parse-error texts appended to ``errors``, exactly as
    extract_text_with_spans/count_nodes give them over the Python
    builder's tree.  document=True is parse_document's str path (UTF-8,
    tentative confidence); else a fragment in ``context_tag``.

    When the tree builder bails (see the C header: <frameset>, an
    IN_HEAD <meta>, a non-IN_BODY fragment context) the result is the
    FastFeed over the records already scanned, for
    build_document/build_fragment(feed=...); None when the scanner
    itself bails, also while scanning the rest for that hand-over, or
    a gate applies (use the Python tokenizer).  bail_reason() names
    the bail."""
    global _last_bail
    _last_bail = _gate(input_text, context_tag)
    if _last_bail is not None:
        return None
    from .charref import decode_character_references
    from .treebuilder import determine_doc_mode

    got = _mod.fused_build(input_text, errors, decode_character_references,
                           determine_doc_mode, document, context_tag)
    _last_bail = _mod.bail_reason()
    return got


def bail_reason() -> str | None:
    """Reason the most recent make_feed()/fused_extract() call did not
    run its whole input in C, None after an accepted call: a gate
    (unavailable, empty-input, gate-raw-context, and for make_feed
    only gate-fragment-cdata), a scanner bail, "error" (make_feed's C call
    raised), or a fused-builder bail (tree-meta, tree-frameset,
    tree-context, tree-internal)."""
    return _last_bail
