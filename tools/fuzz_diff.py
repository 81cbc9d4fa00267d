#!/usr/bin/env python3
"""Differential fuzzing: random HTML-ish inputs through the C reference
and the Python kernel; compare ASCII dumps byte-for-byte.

Usage: python3 tools/fuzz_diff.py [N] [--seed S] [--fragment]
Writes failing inputs to /tmp/fuzz_fail_*.html for triage.

--fused compares the kernel with itself instead, needing no reference:
udfs.parse_turn with the C fast-scan and fused tree builder against the
pure-Python kernel, every case in document mode and in a fragment
context drawn from CONTEXTS (repro files: fuzz_fused_*.html in the
temp directory).
"""

from __future__ import annotations

import os
import random
import subprocess
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from html_parser_spark.kernel.api import parse_document, parse_fragment  # noqa: E402

REFBUILD = "/tmp/refbuild"

TAGS = [
    "div", "p", "b", "i", "a", "span", "table", "tr", "td", "th", "tbody",
    "thead", "tfoot", "caption", "colgroup", "col", "li", "ul", "ol", "dl",
    "dt", "dd", "h1", "h2", "select", "option", "optgroup", "form", "input",
    "button", "textarea", "title", "script", "style", "svg", "math", "mi",
    "mtext", "template", "head", "body", "html", "br", "img", "em", "strong",
    "nobr", "font", "small", "big", "code", "u", "s", "tt", "strike",
    "marquee", "object", "applet", "noscript", "plaintext", "xmp", "iframe",
    "pre", "blockquote", "foreignObject", "desc", "annotation-xml", "circle",
    "path", "clipPath", "textPath",
]
ATTRS = ["id", "class", "href", "type", "charset", "color", "face", "size",
         "encoding", "name", "value", "definitionurl", "viewbox", "refx"]
ENTS = ["&amp;", "&lt;", "&not", "&notin;", "&nbsp;", "&hellip;", "&x;",
        "&#65;", "&#x41;", "&#0;", "&#xD800;", "&#x10FFFF;", "&#xFDD0;",
        "&#13;", "&copy", "&copyright;", "&am", "&ampx", "&#", "&#x;",
        "&CounterClockwiseContourIntegral;"]
SNIPPETS = [
    "<!DOCTYPE html PUBLIC '-//W3C//DTD HTML 4.01//EN'>",
    "<!DOCTYPE html PUBLIC \"-//W3C//DTD HTML 4.01 Transitional//EN\">",
    "<!DOCTYPE html SYSTEM 'about:legacy-compat'>",
    "<!DOCTYPE html PUBLIC \"-//IETF//DTD HTML 2.0//EN\" \"http://x\">",
    "<!doctype Ĳ public 'x'>", "<!DOCTYPE html PUBLIC>",
    "<!DOCTYPE html PUBLIC 'unclosed>", "<!DOCTYPE>", "<!DOCTYPE >",
    "<!DOCTYPE html puBlic '-//w3c//dtd xhtml 1.0 transitional//en'>",
    "<!-->", "<!--->", "<!-- x --!>", "<!-- <!-- -->", "<![CDATA[x]]>",
    "<!--<!--->", "<!--a--->", "<!--a<!-->", "<!--x<!-",  # tail straddles
    # r7 dash-run comment acceptance: error-free "--" bodies now take
    # the C fast-scan path; keep every boundary shape in rotation
    "<!-- a -- b -->", "<!--a---->", "<!--a--!b-->", "<!--a--!-->",
    "<!--a--!>b-->", "<!--a<!--b-->", "<!--<<<-->", "<!-- -- -- -->",
    "<!--[if lt IE 9]>x<![endif]-->", "<!--->x-->", "<!---->",
    "</>", "</ x>", "<!doctype html>", "<!DOCTYPE html PUBLIC \"-//W3C//DTD HTML 4.01//EN\">",
    "<?php ?>", "<!x y>", "<a a=1 a=2>", "<b/>", "text<b><i>x</b>y</i>",
    "<table><tr><td>", "</table>", "</td>", "</p>", "</li>", "</body>",
    "</html>", "<p>", "<li>", "<dd>", "<dt>", "<hr>", "\r\n", "\r", "\t",
    "<script><!--<script>x</script>--></script>", "</script >", "</style/>",
    # r7 positioned-error acceptance: keep every newly-in-subset error
    # shape in rotation (bogus markup, invalid/garbage end tags,
    # attr-machine recoveries, doctype error shapes, plaintext)
    "<?pi data?>", "<!x y>", "<![CDATA[q]]>", "</>", "</3>", "</ w>",
    "</div >", '</div foo="1">', "<a =x>", "<a ==y>", "<a x=>",
    "<a x/ y>", '<a x"y">', "<a \u00e9=1>", '<a x="unclosed',
    "<!DOCTYPE>", "<!DOCTYPE html PUBLIC>", '<!DOCTYPE html SYSTEM "u>',
    "<plaintext>tail<b>",
    "<select><option>a<option>b", "<template><tr><td>x",
    "<svg><title>x</title></svg>", "<math><mi>y</mi></math>",
    "<svg><foreignObject><p>z</p></foreignObject></svg>",
    "<font color=red>", "<font unknown=1>", "= \" ' ` <",
    # non-ASCII uppercase in names/values: str.lower() would fold these,
    # the reference's ASCII-only lowercasing must not (regression tripwire)
    "<DĲV>x</DĲV>", "<p ĲD=1>", "<p x=Ĳ>", "<İNPUT>", "<a K=1>",
    "<!DOCTYPE ĲK>", "<svg><Ĳ/></svg>", "</PĲ>", "<meta charset=ĲTF-8>",
]
CONTEXTS = ["div", "table", "tr", "td", "select", "template", "title",
            "script", "head", "tbody", "caption", "p", "b",
            "svg", "math", "foreignObject", "mi", "annotation-xml",
            "option", "colgroup", "noscript", "body", "html", "a", "li",
            "button", "form", "marquee", "dl", "thead", "th", "pre"]


FMT = ["b", "i", "a", "em", "strong", "nobr", "font", "small", "big",
       "code", "u", "s", "tt", "strike"]
BLOCKS = ["p", "div", "table", "td", "tr", "li", "ul", "button", "h1",
          "marquee", "object", "template", "caption"]
FOREIGN = ["svg", "math", "mi", "mo", "mtext", "ms", "mn", "foreignObject",
           "desc", "title", "annotation-xml", "circle", "clippath",
           "textpath", "lineargradient", "mglyph", "malignmark"]


def gen_formatting(rng: random.Random) -> str:
    """Adversarial AFE/AAA stress: interleaved formatting opens/closes,
    blocks, text, attribute-variant Noah's Ark pressure."""
    parts = []
    for _ in range(rng.randint(5, 60)):
        r = rng.random()
        if r < 0.35:
            tag = rng.choice(FMT)
            attrs = ""
            if rng.random() < 0.4:
                attrs = ' x="%d"' % rng.randint(0, 2)
            parts.append(f"<{tag}{attrs}>")
        elif r < 0.65:
            parts.append(f"</{rng.choice(FMT)}>")
        elif r < 0.8:
            tag = rng.choice(BLOCKS)
            parts.append(rng.choice([f"<{tag}>", f"</{tag}>"]))
        else:
            parts.append(rng.choice(["x", "y ", " ", "zz"]))
    return "".join(parts)


def gen_foreign(rng: random.Random) -> str:
    """Foreign-content stress: nested svg/math, integration points,
    breakout tags, CDATA, case-corrected names."""
    parts = []
    for _ in range(rng.randint(5, 50)):
        r = rng.random()
        if r < 0.3:
            tag = rng.choice(FOREIGN)
            attrs = ""
            if rng.random() < 0.3:
                attrs = rng.choice(
                    [" encoding='text/html'", " encoding='other'",
                     " definitionurl='u'", " refx='1'", " viewbox='v'"])
            close = "/" if rng.random() < 0.2 else ""
            parts.append(f"<{tag}{attrs}{close}>")
        elif r < 0.5:
            parts.append(f"</{rng.choice(FOREIGN)}>")
        elif r < 0.7:
            tag = rng.choice(["p", "b", "font", "div", "table", "td",
                              "title", "script", "br", "img"])
            parts.append(rng.choice([f"<{tag}>", f"</{tag}>",
                                     "<font color=red>", "<font x=1>"]))
        elif r < 0.8:
            parts.append("<![CDATA[x]]>")
        else:
            parts.append(rng.choice(["t", " ", "&amp;", "&#65;"]))
    return "".join(parts)


def gen_rawbytes(rng: random.Random) -> bytes:
    """Arbitrary-bytes stress: pure random bytes, html-ish skeletons
    with injected byte noise, and truncated multibyte prefixes —
    exercises the sniffer, the surrogate-carrying UTF-8 fallback, and
    byte-buffer concatenation fusion (refuse_bytes)."""
    style = rng.random()
    if style < 0.4:
        return bytes(rng.randrange(256) for _ in range(rng.randint(0, 400)))
    if style < 0.7:
        parts = []
        for _ in range(rng.randint(1, 8)):
            parts.append(rng.choice([
                b"<p>", b"</p>", b"<meta charset=gbk>", b"<b x='", b"'>",
                b"<title>", b"</title>", b"<!--", b"-->", b"&#x41;",
                b"&amp", b"<R\x0c", b"</b>",
            ]))
            parts.append(bytes(rng.randrange(256)
                               for _ in range(rng.randint(0, 12))))
        return b"".join(parts)
    base = "漢字 café Ĳ κόσμε".encode("utf-8")
    cut = rng.randint(0, len(base))
    return base[:cut] + bytes(rng.randrange(256)
                              for _ in range(rng.randint(0, 6)))


_TABLE_TAGS = ["table", "thead", "tbody", "tfoot", "tr", "td", "th",
               "caption", "colgroup", "col", "template", "select",
               "option", "form", "b", "p", "div"]


def gen_tables(rng: random.Random) -> str:
    """Template x table-section interplay stress (the region where the
    r3 order-of-read fast-path regression hid): dense streams of
    section/template/form tags, unterminated tags at EOF, stray end
    tags — the mode-replace + autoclose + foster machinery."""
    parts = []
    for _ in range(rng.randint(2, 24)):
        r = rng.random()
        tag = rng.choice(_TABLE_TAGS)
        if r < 0.45:
            sp = rng.choice(["", " ", "  "])
            parts.append(f"<{tag}{sp}>")
        elif r < 0.65:
            parts.append(f"</{tag}>")
        elif r < 0.75:
            parts.append(rng.choice(["x", " ", "yz", "&amp;"]))
        elif r < 0.85:
            parts.append(f"<{tag} a='1'")  # unterminated
            if rng.random() < 0.5:
                break
        else:
            parts.append(rng.choice([
                "</html>", "<!--c-->", "<template><thead",
                "<table><template>", "</template>", "<input hidden>",
            ]))
    return "".join(parts)


def gen(rng: random.Random) -> str:
    parts = []
    for _ in range(rng.randint(1, 40)):
        r = rng.random()
        if r < 0.30:
            tag = rng.choice(TAGS)
            attrs = ""
            for _ in range(rng.randint(0, 3)):
                a = rng.choice(ATTRS)
                q = rng.choice(['"', "'", "", " "])
                v = rng.choice(["x", "1", "hidden", "text/html", "red",
                                "Content-Type", "&amp;x", "a b", "Ĳx",
                                "K&ĲK;", "HİDDEN"])
                if q == " ":
                    attrs += f" {a}"
                else:
                    attrs += f" {a}={q}{v}{q}"
            close = rng.choice(["", "", "", "/"])
            parts.append(f"<{tag}{attrs}{close}>")
        elif r < 0.50:
            parts.append(f"</{rng.choice(TAGS)}>")
        elif r < 0.70:
            parts.append(rng.choice(SNIPPETS))
        elif r < 0.85:
            parts.append(rng.choice(ENTS))
        else:
            parts.append(
                "".join(
                    rng.choice("ab <>&;=\"'/!-x\n\tĲKİß漢")
                    for _ in range(rng.randint(1, 12))
                )
            )
    return "".join(parts)


def _run_ref_binary(argv, data: bytes, strip_trailing_nl: bool):
    """Run one reference binary on `data` (via the shared temp file)
    and return (rc, dump-without-title-line, parse-error texts) — the
    single place the dump/stderr postprocessing lives for all three
    modes (document, fragment, from-tokens)."""
    path = "/tmp/fuzz_case.html"
    with open(path, "wb") as f:
        f.write(data)
    env = dict(os.environ, HTMLPARSER_PARSE_ERRORS="1")
    p = subprocess.run(argv + [path], cwd=REFBUILD,
                       capture_output=True, timeout=30, env=env)
    out = p.stdout.decode("utf-8", errors="surrogateescape")
    dump = "\n".join(out.split("\n")[1:])
    if strip_trailing_nl and dump.endswith("\n"):
        dump = dump[:-1]
    pre = "[parse error] "
    errs = [
        ln[len(pre):]
        for ln in p.stderr.decode("utf-8", "surrogateescape").splitlines()
        if ln.startswith(pre)
    ]
    return p.returncode, dump, errs


def ref_dump(data: bytes, context: str | None):
    if context is None:
        return _run_ref_binary(["./parse_html"], data, True)
    return _run_ref_binary(["./parse_fragment_demo", context], data,
                           False)


def tokens_ref_dump(data: bytes):
    """Reference from-tokens dump via tools/ref_tokens_demo.c."""
    return _run_ref_binary(["./ref_tokens_demo"], data, True)


def tokens_my_dump(data: bytes):
    from html_parser_spark.kernel import encoding as enc
    from html_parser_spark.kernel.tokenizer import replace_nulls
    from html_parser_spark.kernel.tree import dump_ascii
    from html_parser_spark.kernel.treebuilder import (
        build_document_from_tokens, tokenize_all,
    )

    res = enc.sniff_and_convert(data, None)
    errors: list = []
    text = replace_nulls(res.text, errors)
    doc, _ = build_document_from_tokens(
        tokenize_all(text, errors=errors), errors=errors)
    dump = dump_ascii(doc)
    if dump.endswith("\n"):
        dump = dump[:-1]
    return dump, errors


def interleave_campaign(n: int, seed: int, gen_fn) -> int:
    """Cross-document cache-bleed prover (--interleave).

    Round 6 added memoized caches to the kernel (module-level
    _LOWER_CACHE, per-Tokenizer scratch-token reuse, the fast-scan
    feed's shared empty-attrs list).  All are content-keyed or
    instance-scoped, so interleaving documents across live parser
    instances must not change any output.  Two interleavings per
    batch of K documents:

    1. deterministic tokenizer round-robin — K live Tokenizer/fastscan
       feeds advanced one token at a time in rotation; each stream must
       equal a freshly-created solo tokenizer's stream; and
    2. threaded full parses — the same K documents parsed concurrently
       (GIL interleaves instances at bytecode granularity across every
       module cache); each dump + error list must equal the solo parse.
    """
    import concurrent.futures

    from html_parser_spark.kernel import fastscan
    from html_parser_spark.kernel.tokenizer import (
        TOKEN_EOF, Tokenizer,
    )

    def snap(t):
        return (t.type, t.name, t.data, list(t.attrs), t.self_closing,
                t.public_id, t.system_id, t.force_quirks)

    def solo_stream(text):
        tz = Tokenizer(text, errors=[])
        out = []
        while True:
            t = tz.next()
            out.append(snap(t))
            if t.type == TOKEN_EOF:
                return out

    def solo_parse(data):
        r = parse_document(data)
        return r.dump(), list(r.errors)

    rng = random.Random(seed)
    k = 8
    fails = 0
    batches = max(1, n // k)
    for b in range(batches):
        texts = [gen_fn(rng) for _ in range(k)]
        texts = [t.decode("utf-8", "surrogateescape")
                 if isinstance(t, bytes) else t for t in texts]
        # -- 1. tokenizer round-robin (mix fastscan + Python feeds) --
        want = [solo_stream(t) for t in texts]
        feeds, streams, live = [], [[] for _ in texts], []
        for i, t in enumerate(texts):
            f = fastscan.make_feed(t, []) if i % 2 == 0 else None
            if f is None:
                f = Tokenizer(t, errors=[], reuse_token=True)
            feeds.append(f)
            live.append(i)
        while live:
            for i in list(live):
                t = feeds[i].next()
                streams[i].append(snap(t))
                if t.type == TOKEN_EOF:
                    live.remove(i)
        for i, t in enumerate(texts):
            if streams[i] != want[i]:
                fails += 1
                print(f"INTERLEAVE token mismatch batch {b} doc {i}: "
                      f"{t[:200]!r}")
        # -- 2. threaded full parses vs solo results --
        datas = [t.encode("utf-8", "surrogateescape") for t in texts]
        solo = [solo_parse(d) for d in datas]
        with concurrent.futures.ThreadPoolExecutor(max_workers=k) as ex:
            inter = list(ex.map(solo_parse, datas))
        for i in range(k):
            if inter[i] != solo[i]:
                fails += 1
                print(f"INTERLEAVE parse mismatch batch {b} doc {i}: "
                      f"{texts[i][:200]!r}")
        if fails >= 10:
            break
    print(f"{batches * k} cases, {fails} mismatches "
          f"(seed={seed}, interleave k={k})")
    return 1 if fails else 0


def fused_campaign(n: int, seed: int, gen_fn) -> tuple:
    """Python-vs-fused differential (--fused): the 6-tuple
    udfs.parse_turn returns with the accelerator on must equal the one
    with it off (the HP_FASTSCAN=0 kernel), in document mode and in a
    random CONTEXTS fragment per case. Prints how many parses the fused
    builder took whole and the bail reasons of the rest; returns
    (mismatches, Counter of bail reasons with "accepted" for the parses
    built in C)."""
    import collections
    import tempfile

    from html_parser_spark.kernel import fastscan
    from html_parser_spark.kernel.tokenizer import replace_nulls
    from html_parser_spark.spark.udfs import parse_turn

    if fastscan._load() is None:
        raise SystemExit("fast-scan extension unavailable (no C compiler?)")

    def python_kernel(text, mode, context):
        saved = fastscan._mod
        fastscan._mod = None
        try:
            return parse_turn(text, mode, context)
        finally:
            fastscan._mod = saved

    rng = random.Random(seed)
    reasons: collections.Counter = collections.Counter()
    fails = parses = 0
    for i in range(n):
        text = gen_fn(rng)
        if isinstance(text, bytes):
            text = text.decode("utf-8", "surrogateescape")
        for context in (None, rng.choice(CONTEXTS)):
            mode = "document" if context is None else "fragment"
            fastscan.fused_extract(replace_nulls(text), [], context,
                                   context is None)
            reasons[fastscan.bail_reason() or "accepted"] += 1
            parses += 1
            got = parse_turn(text, mode, context or "div")
            want = python_kernel(text, mode, context or "div")
            if got == want:
                continue
            fails += 1
            fn = os.path.join(tempfile.gettempdir(),
                              f"fuzz_fused_{seed}_{i}_{mode}"
                              f"{'_' + context if context else ''}.html")
            with open(fn, "wb") as f:
                f.write(text.encode("utf-8", "surrogateescape"))
            print(f"MISMATCH case {i} {mode} ctx={context} -> {fn}")
            for name, a, b in zip(("text", "spans", "errors", "nodes",
                                   "encoding", "error_texts"), got, want):
                if a != b:
                    print(f"  {name}:\n    fused : {a!r:.300}\n"
                          f"    python: {b!r:.300}")
            if fails >= 10:
                break
        if fails >= 10:
            break
    bails = {r: k for r, k in reasons.most_common() if r != "accepted"}
    print(f"{n} cases ({parses} parses), {fails} mismatches (seed={seed}, "
          f"fused); built in C {reasons['accepted']}; bails {bails}")
    return fails, reasons


def main():
    n = 2000
    seed = 1
    fragment = "--fragment" in sys.argv
    tokens_mode = "--tokens" in sys.argv
    if fragment and tokens_mode:
        # the from-tokens API is document-only (the C builder has no
        # fragment form); a silent document-mode run labeled with
        # fragment contexts would mislabel repro files
        raise SystemExit("--fragment and --tokens are mutually "
                         "exclusive: build_tree_from_tokens is a "
                         "document-only API")
    if "--fused" in sys.argv and (fragment or tokens_mode):
        raise SystemExit("--fused runs document mode and the CONTEXTS "
                         "fragments itself; drop --fragment/--tokens")
    if tokens_mode:
        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        from ref_harness import build_tokens_harness

        if build_tokens_harness(REFBUILD) is None:
            raise SystemExit("could not build ref_tokens_demo harness")
    if "--style" in sys.argv:
        style = sys.argv[sys.argv.index("--style") + 1]
    else:
        style = "mixed"
    gen_fn = {"mixed": gen, "formatting": gen_formatting,
              "foreign": gen_foreign, "rawbytes": gen_rawbytes,
              "tables": gen_tables}[style]
    args = [a for a in sys.argv[1:] if not a.startswith("--")
            and a not in ("formatting", "foreign", "mixed", "rawbytes",
                          "tables")]
    if args:
        n = int(args[0])
    if "--seed" in sys.argv:
        seed = int(sys.argv[sys.argv.index("--seed") + 1])
    if "--interleave" in sys.argv:
        return interleave_campaign(n, seed, gen_fn)
    if "--fused" in sys.argv:
        fails, _ = fused_campaign(n, seed, gen_fn)
        return 1 if fails else 0
    rng = random.Random(seed)
    fails = 0
    for i in range(n):
        text = gen_fn(rng)
        data = (text if isinstance(text, bytes)
                else text.encode("utf-8", errors="surrogateescape"))
        context = rng.choice(CONTEXTS) if fragment else None
        if tokens_mode:
            rc, want, want_err = tokens_ref_dump(data)
        else:
            rc, want, want_err = ref_dump(data, context)
        if rc != 0:
            continue
        try:
            if tokens_mode:
                mine, mine_err = tokens_my_dump(data)
            else:
                res = (parse_document(data) if context is None
                       else parse_fragment(data, context))
                mine = res.dump()
                mine_err = res.errors
        except Exception as e:  # noqa: BLE001
            mine = f"<exception: {e!r}>"
            mine_err = ["<exception>"]
        if mine != want or mine_err != want_err:
            fails += 1
            fn = f"/tmp/fuzz_fail_{seed}_{i}{'_' + context if context else ''}.html"
            with open(fn, "wb") as f:
                f.write(data)
            print(f"MISMATCH case {i} ctx={context} errs ref={len(want_err)} "
                  f"py={len(mine_err)} -> {fn}")
            wl, ml = want.split("\n"), mine.split("\n")
            for j in range(max(len(wl), len(ml))):
                a = wl[j] if j < len(wl) else "<missing>"
                b = ml[j] if j < len(ml) else "<missing>"
                if a != b:
                    print(f"  line {j+1}:\n    ref: {a!r}\n    py : {b!r}")
                    break
            for j in range(max(len(want_err), len(mine_err))):
                a = want_err[j] if j < len(want_err) else "<missing>"
                b = mine_err[j] if j < len(mine_err) else "<missing>"
                if a != b:
                    print(f"  err {j+1}:\n    ref: {a!r}\n    py : {b!r}")
                    break
            if fails >= 10:
                break
    print(f"{n} cases, {fails} mismatches (seed={seed})")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
