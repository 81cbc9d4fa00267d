/* _fastscan: optional C accelerator for the pure-Python HTML tokenizer.
 *
 * Architecture: an ALL-OR-NOTHING pre-scanner.  make_feed(text, errors)
 * tokenizes the whole document in one C pass and returns a feed object
 * the tree builder can drive exactly like kernel.tokenizer.Tokenizer
 * (next() -> scratch token; .state / .allow_cdata / .errors / .skipped
 * attributes).  The scanner accepts only the subset of inputs on which
 * it is PROVABLY token-identical AND error-identical to the Python
 * state machine.  Since round 7's widening that subset includes the
 * ERROR-EMITTING constructs whose recovery is context-free — bogus
 * markup declarations, literal-'<' invalid end tags, end-tag
 * trailing garbage, every comment-machine error shape (exact 10-state
 * mirror), DOCTYPE error shapes (with force_quirks), the full
 * attribute-machine error mirror (per-BYTE bad-name-char errors,
 * recoverable '=' / missing-value / self-closing-slash errors, silent
 * EOF recoveries), and <plaintext> — with positioned "line=N col=M"
 * error strings built by a _line_col mirror that reproduces the
 * reference's stale positions across raw-scan skipped ranges.  What
 * still bails is the genuinely context-coupled rest: preprocessing
 * (NULs, surrogate escapes), attribute names past the 256-character
 * name buffer, charref attempts with no decode delegate, and — for
 * make_feed, which has no builder to ask
 * — a CDATA opener after <svg>/<math> (tree-builder FEEDBACK:
 * allow_cdata) and any CDATA opener in a fragment (a Python-side
 * gate).  On a bail the caller falls back to the Python tokenizer for
 * the WHOLE document, so parity holds by construction; the
 * differential tests in tests/test_fastscan.py verify token-by-token
 * and error-by-error.
 *
 * Fused tree builder (fused_build): for udfs.parse_turn's markup
 * extraction the same records also drive a C port of the Python tree
 * builder (kernel/treebuilder.py) on a per-call PyMem arena.  It covers
 * every insertion mode the Python builder has — initial, before-html,
 * head, head-noscript, body, text, table, table text, caption, table
 * body, row, cell, select, select-in-table, template, after-body,
 * after-after-body — and foreign content (SVG/MathML namespaces,
 * breakout, integration points, case-adjusted SVG element names),
 * with the adoption agency algorithm (Noah's Ark clause included),
 * foster parenting and reconstruction of active formatting elements,
 * and returns (extracted text, spans, node count) with the error texts
 * in the Python order; no Python Node is created.  Scan and build
 * interleave at one point only: the scanner stops at a "<![CDATA["
 * opener, the builder takes every token before it and answers
 * allow_cdata (stack top not HTML, as TreeBuilder._run), and the
 * scanner emits the CDATA section or the bogus comment and resumes —
 * one scan per input.  It bails, handing the records to the Python
 * builder as a FastFeed (the rest of the input scanned as make_feed
 * would), on:
 *   - a document-mode IN_HEAD <meta> (the §13.2.3.5 re-encode
 *     handshake), "tree-meta";
 *   - <frameset>, "tree-frameset";
 *   - a fragment context whose Python build does not start in IN_BODY
 *     (table parts, select, head, template), "tree-context".
 * The Python builder stays: it is the only path for the inputs above
 * and for scanner bails, and it is the oracle the differential tests
 * compare against.  HP_FASTSCAN=0 turns off the scanner and the fused
 * builder together.
 *
 * This file is written against the *Python* kernel in this repository
 * (kernel/tokenizer.py), which itself documents behavioral citations
 * into the reference C tokenizer.  It is NOT a port of the reference:
 * the reference is an incremental 80-state machine; this is a
 * whole-document subset scanner with a bail-out.
 *
 * Behavioral notes replicated exactly (see kernel/tokenizer.py):
 *  - duplicate attribute names are DROPPED silently (_append_attr)
 *  - AFTER_ATTR_NAME does NOT reset the name buffer: <a x y> yields
 *    attrs ("x",""), ("xy","")
 *  - unquoted attribute values keep '/' (<a href=foo/> -> "foo/",
 *    not self-closing)
 *  - after a quoted value the machine returns to BEFORE_ATTR_NAME
 *    directly: <a x="1"y="2"> is error-free
 *  - bare '<' before a non-special char is a literal '<' CHARACTER
 *    token with NO error; '</' + non-alpha errors AND emits the
 *    literal '<' (both mirrored)
 *  - </name ...> errors at the first garbage char and skips to '>'
 *  - <!DOCTYPE: optional ws, name run, then optionally PUBLIC/SYSTEM
 *    ids (ids ASCII-lowered; a missing SECOND public id is silent;
 *    missing name / missing quote / unclosed quote error and set
 *    force_quirks, partial ids captured to EOF), silent skip to '>'
 *  - raw elements (title textarea style xmp iframe noembed noframes
 *    script) emit their body as ONE character token ending just
 *    before the matching "</name[ws / >]" terminator; entering the
 *    raw state does NOT depend on self_closing
 *  - <script> content runs an exact 18-state script-data DFA mirror
 *    (escaped AND double-escaped bodies in-subset)
 */

#define PY_SSIZE_T_CLEAN
#include <Python.h>
#include <structmember.h>
#include <setjmp.h>
#include <string.h>

/* token types (kernel/tokenizer.py) */
#define T_DOCTYPE 0
#define T_START   1
#define T_END     2
#define T_COMMENT 3
#define T_CHAR    4
#define T_EOF     5

/* tokenizer states the builder observes (kernel/tokenizer.py) */
#define S_DATA    0
#define S_RCDATA  1
#define S_RAWTEXT 2
#define S_SCRIPT  3

/* ------------------------------------------------------------------ */
/* FastToken: duck-types kernel.tokenizer.Token (slots read by the     */
/* tree builder; never mutated by it — verified by grep + tests)       */
/* ------------------------------------------------------------------ */

typedef struct {
    PyObject_HEAD
    int type;
    PyObject *name;        /* str | None */
    PyObject *public_id;   /* always None in the accepted subset */
    PyObject *system_id;   /* always None */
    PyObject *data;        /* str | None */
    PyObject *attrs;       /* list[(str, str)] */
    char self_closing;
    char force_quirks;     /* always False in the accepted subset */
} FastToken;

static void
FastToken_dealloc(FastToken *self)
{
    Py_XDECREF(self->name);
    Py_XDECREF(self->public_id);
    Py_XDECREF(self->system_id);
    Py_XDECREF(self->data);
    Py_XDECREF(self->attrs);
    Py_TYPE(self)->tp_free((PyObject *)self);
}

static PyMemberDef FastToken_members[] = {
    {"type", T_INT, offsetof(FastToken, type), 0, NULL},
    {"name", T_OBJECT, offsetof(FastToken, name), 0, NULL},
    {"public_id", T_OBJECT, offsetof(FastToken, public_id), 0, NULL},
    {"system_id", T_OBJECT, offsetof(FastToken, system_id), 0, NULL},
    {"data", T_OBJECT, offsetof(FastToken, data), 0, NULL},
    {"attrs", T_OBJECT, offsetof(FastToken, attrs), 0, NULL},
    {"self_closing", T_BOOL, offsetof(FastToken, self_closing), 0, NULL},
    {"force_quirks", T_BOOL, offsetof(FastToken, force_quirks), 0, NULL},
    {NULL}
};

static PyTypeObject FastToken_Type = {
    PyVarObject_HEAD_INIT(NULL, 0)
    .tp_name = "_fastscan.FastToken",
    .tp_basicsize = sizeof(FastToken),
    .tp_dealloc = (destructor)FastToken_dealloc,
    .tp_flags = Py_TPFLAGS_DEFAULT,
    .tp_members = FastToken_members,
    .tp_new = PyType_GenericNew,
};

/* ------------------------------------------------------------------ */
/* token records produced by the scan                                  */
/* ------------------------------------------------------------------ */

typedef struct {
    unsigned char type;
    unsigned char self_closing;
    unsigned char state_after;  /* state the builder reads after this token */
    unsigned char force_quirks; /* DOCTYPE error shapes only */
    PyObject *name;             /* owned | NULL */
    PyObject *data;             /* owned | NULL */
    PyObject *attrs;            /* owned list | NULL (=> shared empty) */
    PyObject *errs;             /* owned list | NULL: charref-decode
                                   errors, appended to the shared
                                   errors list when the token is
                                   PULLED — the Python tokenizer
                                   appends them at production time,
                                   so deferral preserves interleaving
                                   with builder-side errors exactly */
} TokRec;

typedef struct {
    TokRec *recs;
    Py_ssize_t n, cap;
} RecBuf;

static int
recbuf_push(RecBuf *rb, TokRec r)
{
    if (rb->n == rb->cap) {
        Py_ssize_t newcap = rb->cap ? rb->cap * 2 : 256;
        TokRec *nr = PyMem_Realloc(rb->recs, newcap * sizeof(TokRec));
        if (!nr) return -1;
        rb->recs = nr;
        rb->cap = newcap;
    }
    rb->recs[rb->n++] = r;
    return 0;
}

static void
recbuf_clear(RecBuf *rb)
{
    for (Py_ssize_t i = 0; i < rb->n; i++) {
        Py_XDECREF(rb->recs[i].name);
        Py_XDECREF(rb->recs[i].data);
        Py_XDECREF(rb->recs[i].attrs);
        Py_XDECREF(rb->recs[i].errs);
    }
    PyMem_Free(rb->recs);
    rb->recs = NULL;
    rb->n = rb->cap = 0;
}

/* ------------------------------------------------------------------ */
/* FastFeed                                                            */
/* ------------------------------------------------------------------ */

typedef struct {
    PyObject_HEAD
    PyObject *text;        /* keeps slices' owner alive (substrings copy,
                              but keep a ref for debuggability anyway) */
    TokRec *recs;
    Py_ssize_t n, i;
    FastToken *scratch;
    int state;             /* builder reads tz.state */
    PyObject *raw_tag;     /* Tokenizer interface parity; the builder
                              never writes it */
    char allow_cdata;      /* interface parity: the builder writes it
                              to a live Tokenizer only, and the scan
                              bailed where it could matter */
    PyObject *errors;      /* shared list; tokenizer-side errors ride
                              the records and append at pull time */
    PyObject *skipped;     /* raw-scan ranges (complete up front) */
} FastFeed;

static PyObject *EMPTY_ATTRS;   /* shared [] for attr-less tokens; the
                                   builder only iterates/copies token
                                   attrs (tests assert it stays empty) */

static void
FastFeed_dealloc(FastFeed *self)
{
    for (Py_ssize_t k = 0; k < self->n; k++) {
        Py_XDECREF(self->recs[k].name);
        Py_XDECREF(self->recs[k].data);
        Py_XDECREF(self->recs[k].attrs);
        Py_XDECREF(self->recs[k].errs);
    }
    PyMem_Free(self->recs);
    Py_XDECREF(self->text);
    Py_XDECREF(self->scratch);
    Py_XDECREF(self->raw_tag);
    Py_XDECREF(self->errors);
    Py_XDECREF(self->skipped);
    Py_TYPE(self)->tp_free((PyObject *)self);
}

static PyObject *
FastFeed_next(FastFeed *self, PyObject *Py_UNUSED(ignored))
{
    FastToken *t = self->scratch;
    if (self->i < self->n) {
        TokRec *r = &self->recs[self->i++];
        if (r->errs) {
            /* charref-decode errors surface at PRODUCTION time, like
               the Python tokenizer — so they interleave with builder
               errors identically */
            for (Py_ssize_t k = 0; k < PyList_GET_SIZE(r->errs); k++) {
                PyObject *item = PyList_GET_ITEM(r->errs, k);
                if (PyList_Check(self->errors)) {
                    if (PyList_Append(self->errors, item) < 0)
                        return NULL;
                } else {
                    PyObject *rv = PyObject_CallMethod(
                        self->errors, "append", "O", item);
                    if (!rv) return NULL;
                    Py_DECREF(rv);
                }
            }
            Py_CLEAR(r->errs);  /* scratch reuse: append exactly once */
        }
        t->type = r->type;
        Py_INCREF(r->name ? r->name : Py_None);
        Py_XSETREF(t->name, r->name ? r->name : Py_None);
        if (r->type == T_DOCTYPE) {
            /* DOCTYPE records carry public/system ids in the unused
               (data, attrs) slots; builder-visible data stays None
               and attrs stays the shared empty list, like the
               Python scratch token */
            Py_INCREF(r->data ? r->data : Py_None);
            Py_XSETREF(t->public_id, r->data ? r->data : Py_None);
            Py_INCREF(r->attrs ? r->attrs : Py_None);
            Py_XSETREF(t->system_id, r->attrs ? r->attrs : Py_None);
            Py_INCREF(Py_None);
            Py_XSETREF(t->data, Py_None);
            Py_INCREF(EMPTY_ATTRS);
            Py_XSETREF(t->attrs, EMPTY_ATTRS);
        } else {
            /* typed scratch reset: ids only survive a DOCTYPE token
               itself (Tokenizer.next clears them on the following
               pull) */
            if (t->public_id != Py_None) {
                Py_INCREF(Py_None);
                Py_XSETREF(t->public_id, Py_None);
            }
            if (t->system_id != Py_None) {
                Py_INCREF(Py_None);
                Py_XSETREF(t->system_id, Py_None);
            }
            Py_INCREF(r->data ? r->data : Py_None);
            Py_XSETREF(t->data, r->data ? r->data : Py_None);
            Py_INCREF(r->attrs ? r->attrs : EMPTY_ATTRS);
            Py_XSETREF(t->attrs, r->attrs ? r->attrs : EMPTY_ATTRS);
        }
        t->self_closing = r->self_closing;
        t->force_quirks = r->force_quirks;
        self->state = r->state_after;
    } else {
        t->type = T_EOF;
        Py_INCREF(Py_None);
        Py_XSETREF(t->name, Py_None);
        if (t->public_id != Py_None) {
            Py_INCREF(Py_None);
            Py_XSETREF(t->public_id, Py_None);
        }
        if (t->system_id != Py_None) {
            Py_INCREF(Py_None);
            Py_XSETREF(t->system_id, Py_None);
        }
        Py_INCREF(Py_None);
        Py_XSETREF(t->data, Py_None);
        Py_INCREF(EMPTY_ATTRS);
        Py_XSETREF(t->attrs, EMPTY_ATTRS);
        t->self_closing = 0;
        t->force_quirks = 0;
        /* state stays at the last record's state_after: the Python
           machine reports the state it was IN when input ran out —
           e.g. "<script>" + EOF (empty raw body) stays in the raw
           state, while a nonempty body's CHARACTER record already
           carried S_DATA (differential: test_fastscan EOF states). */
    }
    Py_INCREF(t);
    return (PyObject *)t;
}

static PyMethodDef FastFeed_methods[] = {
    {"next", (PyCFunction)FastFeed_next, METH_NOARGS, NULL},
    {NULL}
};

static PyMemberDef FastFeed_members[] = {
    {"state", T_INT, offsetof(FastFeed, state), 0, NULL},
    {"raw_tag", T_OBJECT, offsetof(FastFeed, raw_tag), 0, NULL},
    {"allow_cdata", T_BOOL, offsetof(FastFeed, allow_cdata), 0, NULL},
    {"errors", T_OBJECT, offsetof(FastFeed, errors), 0, NULL},
    {"skipped", T_OBJECT, offsetof(FastFeed, skipped), 0, NULL},
    {NULL}
};

static PyTypeObject FastFeed_Type = {
    PyVarObject_HEAD_INIT(NULL, 0)
    .tp_name = "_fastscan.FastFeed",
    .tp_basicsize = sizeof(FastFeed),
    .tp_dealloc = (destructor)FastFeed_dealloc,
    .tp_flags = Py_TPFLAGS_DEFAULT,
    .tp_methods = FastFeed_methods,
    .tp_members = FastFeed_members,
};

/* ------------------------------------------------------------------ */
/* scanner                                                             */
/* ------------------------------------------------------------------ */

typedef struct { Py_ssize_t a, b; } SkipRange;

typedef struct {
    PyObject *text;
    int kind;
    const void *data;
    Py_ssize_t n;
    RecBuf rb;
    PyObject *interns;      /* dict: name -> name (dedup allocations) */
    const char *bail;       /* reason, NULL while OK */
    PyObject *decode_fn;    /* borrowed: charref.decode_character_
                               references, or NULL (then any charref
                               attempt bails) */
    PyObject *pending_errs; /* owned list | NULL: decode errors for the
                               token currently being assembled; emit()
                               steals it into the TokRec */
    Py_ssize_t pos;         /* where scan_all resumes */
    int pause_cdata;        /* fused mode: stop at a "<![CDATA[" opener
                               (scan_all returns 2) so the builder can
                               answer allow_cdata; scan_cdata resumes */
    int seen_foreign;       /* a <svg>/<math> start tag was emitted:
                               without a builder (make_feed) a CDATA
                               opener after it bails */
    /* positioned-error support (tokenizer._error/_line_col mirror):
       raw-scan char ranges consumed without advance() — the
       reference's line/col counters never see them, so reported
       positions are deliberately stale across raw scans — plus the
       incremental (pos, line, col, skip_idx) cursor the error path
       resumes from.  Queries are monotonic during a scan (errors
       occur in document order), matching the Python cache's
       cacheable case. */
    SkipRange *skips;
    Py_ssize_t n_skips, cap_skips;
    Py_ssize_t lc_pos, lc_skip;
    long lc_line, lc_col;
} Scan;

#define RD(sc, i) PyUnicode_READ((sc)->kind, (sc)->data, (i))

static int
is_ws(Py_UCS4 c)
{
    return c == ' ' || c == '\n' || c == '\t' || c == '\f' || c == '\r';
}

static int
is_alpha(Py_UCS4 c)
{
    return (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z');
}

static int
attr_name_ok(Py_UCS4 c)
{
    /* _ATTR_NAME_BAD = [^0-9A-Za-z\-_:] -> error -> bail */
    return (c >= '0' && c <= '9') || (c >= 'a' && c <= 'z')
        || (c >= 'A' && c <= 'Z') || c == '-' || c == '_' || c == ':';
}

/* Literal-ampersand guard over a charref-processing region (data
 * runs, RCDATA bodies, attribute values).  The Python machine leaves
 * '&' literal — same coalesced run, NO error — exactly when the next
 * input char is not [0-9A-Za-z#] (probed: "a & b", "a &; b", "x&",
 * "&<p>", attr "1 && 2", rcdata "1 & 2").  Anything that could start
 * a named/numeric reference attempt may decode or error (note this
 * kernel decodes semicolonless "&amp" too), so the scanner refuses
 * those documents.  The char AFTER the region boundary is the correct
 * lookahead for a trailing '&' (quote, '<', or EOF all mean literal).
 * Returns 1 if the region is charref-free-literal, 0 if the caller
 * must bail. */
static int
amp_region_ok(Scan *sc, Py_ssize_t a, Py_ssize_t e)
{
    Py_ssize_t k = a;
    while (1) {
        k = PyUnicode_FindChar(sc->text, '&', k, e, 1);
        if (k == -2) { PyErr_Clear(); return 0; }  /* bail, stay safe */
        if (k < 0) return 1;
        if (k + 1 < sc->n) {
            Py_UCS4 c = RD(sc, k + 1);
            if (c == '#' || (c >= '0' && c <= '9')
                || (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z'))
                return 0;
        }
        k++;
    }
}

static Py_ssize_t
find_char(Scan *sc, Py_UCS4 ch, Py_ssize_t from)
{
    Py_ssize_t r = PyUnicode_FindChar(sc->text, ch, from, sc->n, 1);
    return r; /* -1 == not found (and -2 on error, checked by caller) */
}

/* Exact mirror of tokenizer._process_script_data's 18-state DFA for
 * raw_tag == "script" (kernel/tokenizer.py:393-628): scans the script
 * body from `start`, returns 0 with *out_lt = position of the '<' of
 * the terminating "</script[ws|/|>]" (reached only from the DATA or
 * ESCAPED families — DOUBLE-escaped "</script>" switches back to
 * ESCAPED and stays body text), or *out_lt = -1 at EOF.  The Python
 * machine emits NO parse error in any of these states, so parity on
 * this path is purely positional: the body [start, lt) is one
 * CHARACTER token in both engines.  Returns -1 only on an internal
 * Python error from find_char. */
static int
script_end_scan(Scan *sc, Py_ssize_t start, Py_ssize_t *out_lt)
{
    enum {SD, SD_LT, SD_EO, SD_EN, ES, ES_D, ESC, ESC_D, ESC_DD,
          ESC_LT, ESC_EO, ESC_EN, DBS, DB, DB_D, DB_DD, DB_LT, DBE};
    static const char script6[6] = {'s', 'c', 'r', 'i', 'p', 't'};
    int ss = SD;
    Py_ssize_t n = sc->n, pos = start, lt = 0, tl = 0;
    Py_UCS4 tmp[16];

    while (pos < n) {
        Py_UCS4 c = RD(sc, pos);
        switch (ss) {
        case SD:
            if (c == '<') { lt = pos; ss = SD_LT; pos++; }
            else {
                Py_ssize_t nxt = find_char(sc, '<', pos);
                if (nxt == -2) return -1;
                pos = nxt < 0 ? n : nxt;
            }
            break;
        case SD_LT:
            if (c == '/') { ss = SD_EO; tl = 0; pos++; }
            else if (c == '!') { ss = ES; pos++; }
            else ss = SD;
            break;
        case SD_EO:
            if (is_alpha(c)) { ss = SD_EN; tl = 0; }
            else ss = SD;
            break;
        case SD_EN:
        case ESC_EN: {
            int back = (ss == SD_EN) ? SD : ESC;
            if (is_ws(c) || c == '/' || c == '>') {
                int match = (tl == 6);
                for (Py_ssize_t k = 0; match && k < 6; k++)
                    if (tmp[k] != (Py_UCS4)script6[k]) match = 0;
                if (match) { *out_lt = lt; return 0; }
                ss = back;
            } else if (is_alpha(c)) {
                if (tl < 15) {
                    Py_UCS4 t = c;
                    if (t >= 'A' && t <= 'Z') t += 32;
                    tmp[tl++] = t;
                    pos++;
                } else ss = back;
            } else ss = back;
            break; }
        case ES:
            if (c == '-') { ss = ES_D; pos++; }
            else ss = SD;
            break;
        case ES_D:
            if (c == '-') { ss = ESC_DD; pos++; }
            else ss = SD;
            break;
        case ESC:
            if (c == '-') { ss = ESC_D; pos++; }
            else if (c == '<') { lt = pos; ss = ESC_LT; pos++; }
            else pos++;
            break;
        case ESC_D:
            if (c == '-') { ss = ESC_DD; pos++; }
            else if (c == '<') { lt = pos; ss = ESC_LT; pos++; }
            else { ss = ESC; pos++; }
            break;
        case ESC_DD:
            if (c == '-') pos++;
            else if (c == '<') { lt = pos; ss = ESC_LT; pos++; }
            else if (c == '>') { ss = SD; pos++; }
            else { ss = ESC; pos++; }
            break;
        case ESC_LT:
            if (c == '/') { ss = ESC_EO; tl = 0; pos++; }
            else if (is_alpha(c)) { ss = DBS; tl = 0; }
            else ss = ESC;
            break;
        case ESC_EO:
            if (is_alpha(c)) { ss = ESC_EN; tl = 0; }
            else ss = ESC;
            break;
        case DBS:
        case DBE: {
            int here = ss;
            if (is_ws(c) || c == '/' || c == '>') {
                int match = (tl == 6);
                for (Py_ssize_t k = 0; match && k < 6; k++)
                    if (tmp[k] != (Py_UCS4)script6[k]) match = 0;
                if (here == DBS) ss = match ? DB : ESC;
                else ss = match ? ESC : DB;
                pos++;
            } else if (is_alpha(c)) {
                if (tl < 15) {
                    Py_UCS4 t = c;
                    if (t >= 'A' && t <= 'Z') t += 32;
                    tmp[tl++] = t;
                    pos++;
                } else ss = (here == DBS) ? ESC : DB;
            } else ss = (here == DBS) ? ESC : DB;
            break; }
        case DB:
            if (c == '-') { ss = DB_D; pos++; }
            else if (c == '<') { ss = DB_LT; pos++; }
            else pos++;
            break;
        case DB_D:
            if (c == '-') { ss = DB_DD; pos++; }
            else if (c == '<') { ss = DB_LT; pos++; }
            else { ss = DB; pos++; }
            break;
        case DB_DD:
            if (c == '-') pos++;
            else if (c == '<') { ss = DB_LT; pos++; }
            else if (c == '>') { ss = SD; pos++; }
            else { ss = DB; pos++; }
            break;
        default: /* DB_LT */
            if (c == '/') { ss = DBE; tl = 0; pos++; }
            else ss = DB;
            break;
        }
    }
    *out_lt = -1;  /* EOF inside script data */
    return 0;
}

static PyObject *substr(Scan *sc, Py_ssize_t a, Py_ssize_t b);

/* --- positioned parse errors (tokenizer._error mirror) ------------- */

static int
push_skip(Scan *sc, Py_ssize_t a, Py_ssize_t b)
{
    if (sc->n_skips == sc->cap_skips) {
        Py_ssize_t nc = sc->cap_skips ? sc->cap_skips * 2 : 8;
        SkipRange *ns = PyMem_Realloc(sc->skips, nc * sizeof(SkipRange));
        if (!ns) { PyErr_NoMemory(); return -1; }
        sc->skips = ns;
        sc->cap_skips = nc;
    }
    sc->skips[sc->n_skips].a = a;
    sc->skips[sc->n_skips].b = b;
    sc->n_skips++;
    return 0;
}

/* advance (line, col) over [from, to): +1 col per UTF-8 BYTE, '\n'
   resets col to 1 (tokenizer._bump_line_col / reference advance()).
   Surrogates cannot appear (scan_all prechecks bail on them). */
static void
lc_bump(Scan *sc, Py_ssize_t from, Py_ssize_t to, long *line, long *col)
{
    for (Py_ssize_t k = from; k < to; k++) {
        Py_UCS4 c = RD(sc, k);
        if (c == '\n') { (*line)++; *col = 1; }
        else *col += (c < 0x80) ? 1 : (c < 0x800) ? 2
                     : (c < 0x10000) ? 3 : 4;
    }
}

/* tokenizer._line_col: line/col of `pos` counting only bytes outside
   the skipped ranges, resuming from the incremental cursor. */
static void
line_col(Scan *sc, Py_ssize_t pos, long *lp, long *cp)
{
    Py_ssize_t cur = sc->lc_pos, si = sc->lc_skip;
    long line = sc->lc_line, col = sc->lc_col;
    if (pos < cur) { cur = 0; line = 1; col = 1; si = 0; }
    while (si < sc->n_skips) {
        Py_ssize_t a = sc->skips[si].a, b = sc->skips[si].b;
        if (a >= pos) break;
        Py_ssize_t stop = a > cur ? a : cur;
        lc_bump(sc, cur, stop < pos ? stop : pos, &line, &col);
        Py_ssize_t nb = b < pos ? b : pos;
        if (nb > cur) cur = nb;
        if (b > pos) break;
        si++;
    }
    lc_bump(sc, cur, pos, &line, &col);
    sc->lc_pos = pos;
    sc->lc_line = line;
    sc->lc_col = col;
    sc->lc_skip = si;
    *lp = line;
    *cp = col;
}

/* "line=N col=M: msg" onto pending_errs — surfaces when the record
   being assembled is PULLED, i.e. at the same point in the combined
   error stream where the Python machine appends it (production time,
   before the builder processes the token). */
static int
scan_error(Scan *sc, const char *msg, Py_ssize_t pos)
{
    long line, col;
    line_col(sc, pos, &line, &col);
    PyObject *s = PyUnicode_FromFormat("line=%ld col=%ld: %s",
                                       line, col, msg);
    if (!s) return -1;
    if (sc->pending_errs == NULL) {
        sc->pending_errs = PyList_New(0);
        if (!sc->pending_errs) { Py_DECREF(s); return -1; }
    }
    int rc = PyList_Append(sc->pending_errs, s);
    Py_DECREF(s);
    return rc;
}

static int emit(Scan *sc, unsigned char type, PyObject *name,
                PyObject *data, PyObject *attrs, unsigned char self_closing,
                unsigned char state_after);
static int emit_fq(Scan *sc, unsigned char type, PyObject *name,
                   PyObject *data, PyObject *attrs,
                   unsigned char self_closing, unsigned char state_after,
                   unsigned char force_quirks);

/* growable UCS4 accumulation buffer (comment-machine data assembly) */
typedef struct { Py_UCS4 *p; Py_ssize_t n, cap; } U4Buf;

static int
u4_put(U4Buf *b, Py_UCS4 c)
{
    if (b->n == b->cap) {
        Py_ssize_t nc = b->cap ? b->cap * 2 : 64;
        Py_UCS4 *np = PyMem_Realloc(b->p, nc * sizeof(Py_UCS4));
        if (!np) { PyErr_NoMemory(); return -1; }
        b->p = np;
        b->cap = nc;
    }
    b->p[b->n++] = c;
    return 0;
}

static int
u4_put_range(U4Buf *b, Scan *sc, Py_ssize_t a, Py_ssize_t e)
{
    for (Py_ssize_t k = a; k < e; k++)
        if (u4_put(b, RD(sc, k)) < 0) return -1;
    return 0;
}

static int
u4_put_ascii(U4Buf *b, const char *s)
{
    for (; *s; s++)
        if (u4_put(b, (Py_UCS4)*s) < 0) return -1;
    return 0;
}

/* Exact mirror of tokenizer._parse_comment's 10-state machine
 * (src/tokenizer.c:810-1018) INCLUDING its error emissions — the
 * error-free comment shape stays on the zero-copy first-"-->" fast
 * path in scan_all; this runs only when that path detects an error
 * shape (abrupt close, EOF, "--!>", nested "<!--").  Returns 0 ok
 * (comment record emitted, *io past the close), -1 python error. */
static int
parse_comment_full(Scan *sc, Py_ssize_t *io)
{
    enum {CS_START, CS_START_DASH, CS_COMMENT, CS_LT, CS_LT_BANG,
          CS_LT_BANG_DASH, CS_LT_BANG_DASH_DASH, CS_END_DASH, CS_END,
          CS_END_BANG};
    Py_ssize_t pos = *io + 4, n = sc->n;   /* past "<!--" */
    int state = CS_START;
    U4Buf d = {0};
#define CERR(m) do { if (scan_error(sc, (m), pos) < 0) goto fail; } \
                while (0)
#define CPUT(ch) do { if (u4_put(&d, (ch)) < 0) goto fail; } while (0)
#define CPUTS(s) do { if (u4_put_ascii(&d, (s)) < 0) goto fail; } while (0)

    while (pos <= n) {
        Py_UCS4 c = (pos < n) ? RD(sc, pos) : 0;   /* _peek -> "\0" */
        switch (state) {
        case CS_START:
            if (c == '-') { state = CS_START_DASH; pos++; }
            else if (c == '>') {
                CERR("abrupt-closing-of-empty-comment");
                pos++;
                goto close;
            } else if (c == 0) { CERR("eof-in-comment"); goto close; }
            else state = CS_COMMENT;
            break;
        case CS_START_DASH:
            if (c == '-') { state = CS_END; pos++; }
            else if (c == '>') {
                CERR("abrupt-closing-of-empty-comment");
                pos++;
                goto close;
            } else if (c == 0) {
                CERR("eof-in-comment");
                CPUT('-');
                goto close;
            } else { CPUT('-'); state = CS_COMMENT; }
            break;
        case CS_COMMENT:
            if (c == '<') { CPUT(c); state = CS_LT; pos++; }
            else if (c == '-') { state = CS_END_DASH; pos++; }
            else if (c == 0) { CERR("eof-in-comment"); goto close; }
            else {
                /* bulk-consume plain chars (fast path parity) */
                Py_ssize_t q = pos;
                while (q < n) {
                    Py_UCS4 qc = RD(sc, q);
                    if (qc == '<' || qc == '-') break;
                    q++;
                }
                if (u4_put_range(&d, sc, pos, q) < 0) goto fail;
                pos = q;
            }
            break;
        case CS_LT:
            if (c == '!') { CPUT(c); state = CS_LT_BANG; pos++; }
            else if (c == '<') { CPUT(c); pos++; }
            else state = CS_COMMENT;
            break;
        case CS_LT_BANG:
            if (c == '-') { state = CS_LT_BANG_DASH; pos++; }
            else state = CS_COMMENT;
            break;
        case CS_LT_BANG_DASH:
            if (c == '-') { state = CS_LT_BANG_DASH_DASH; pos++; }
            else state = CS_END_DASH;
            break;
        case CS_LT_BANG_DASH_DASH:
            if (c == '>' || c == 0) state = CS_END;
            else { CERR("nested-comment"); state = CS_END; }
            break;
        case CS_END_DASH:
            if (c == '-') { state = CS_END; pos++; }
            else if (c == 0) {
                CERR("eof-in-comment");
                CPUT('-');
                goto close;
            } else { CPUT('-'); state = CS_COMMENT; }
            break;
        case CS_END:
            if (c == '>') { pos++; goto close; }
            else if (c == '!') { state = CS_END_BANG; pos++; }
            else if (c == '-') { CPUT('-'); pos++; }
            else if (c == 0) {
                CERR("eof-in-comment");
                CPUTS("--");
                goto close;
            } else { CPUTS("--"); state = CS_COMMENT; }
            break;
        default:  /* CS_END_BANG */
            if (c == '-') { CPUTS("--!"); state = CS_END_DASH; pos++; }
            else if (c == '>') {
                CERR("incorrectly-closed-comment");
                pos++;
                goto close;
            } else if (c == 0) {
                CERR("eof-in-comment");
                CPUTS("--!");
                goto close;
            } else { CPUTS("--!"); state = CS_COMMENT; }
            break;
        }
    }
close: ;
    PyObject *data = PyUnicode_FromKindAndData(PyUnicode_4BYTE_KIND,
                                               d.p ? (void *)d.p : (void *)&d,
                                               d.n);
    PyMem_Free(d.p);
    if (!data) return -1;
    if (emit(sc, T_COMMENT, NULL, data, NULL, 0, S_DATA) < 0) return -1;
    *io = pos;
    return 0;
fail:
    PyMem_Free(d.p);
    return -1;
#undef CERR
#undef CPUT
#undef CPUTS
}

/* Text of a charref-PROCESSING region [a,e) (data run, RCDATA body,
 * attribute value).  Ampersand-free or literal-only regions return the
 * plain substring (the common case, no Python call).  A region with a
 * charref ATTEMPT is handed to the Python kernel's own
 * decode_character_references — the exact function the tokenizer
 * runs — so the decoded text and any error strings are identical by
 * construction (the kernel's charref errors carry no position info,
 * which is what makes this composable with the no-positioned-errors
 * subset).  Decode errors accumulate on sc->pending_errs and ride the
 * NEXT emitted token (the one this region belongs to).
 * Returns 0 ok (*out owned), 1 bail, -1 python error. */
static int
region_text(Scan *sc, Py_ssize_t a, Py_ssize_t e, int in_attr,
            PyObject **out)
{
    if (amp_region_ok(sc, a, e)) {
        *out = substr(sc, a, e);
        return *out ? 0 : -1;
    }
    if (!sc->decode_fn) { sc->bail = "charref-attempt"; return 1; }
    PyObject *raw = substr(sc, a, e);
    if (!raw) return -1;
    PyObject *errs = PyList_New(0);
    if (!errs) { Py_DECREF(raw); return -1; }
    PyObject *dec = PyObject_CallFunctionObjArgs(
        sc->decode_fn, raw, in_attr ? Py_True : Py_False, errs, NULL);
    Py_DECREF(raw);
    if (!dec) { Py_DECREF(errs); return -1; }
    if (!PyUnicode_Check(dec)) {
        Py_DECREF(dec); Py_DECREF(errs);
        PyErr_SetString(PyExc_TypeError, "decode_fn must return str");
        return -1;
    }
    if (PyList_GET_SIZE(errs) > 0) {
        if (sc->pending_errs == NULL) {
            sc->pending_errs = errs;
            errs = NULL;
        } else if (PyList_SetSlice(
                       sc->pending_errs,
                       PyList_GET_SIZE(sc->pending_errs),
                       PyList_GET_SIZE(sc->pending_errs), errs) < 0) {
            Py_DECREF(dec); Py_DECREF(errs);
            return -1;
        }
    }
    Py_XDECREF(errs);
    *out = dec;
    return 0;
}

/* substring [a,b) */
static PyObject *
substr(Scan *sc, Py_ssize_t a, Py_ssize_t b)
{
    return PyUnicode_Substring(sc->text, a, b);
}

/* ascii-lowered substring [a,b); lowers only A-Z (ascii_lower parity) */
static PyObject *
lower_substr(Scan *sc, Py_ssize_t a, Py_ssize_t b)
{
    int has_upper = 0;
    Py_UCS4 maxc = 0;
    for (Py_ssize_t i = a; i < b; i++) {
        Py_UCS4 c = RD(sc, i);
        if (c >= 'A' && c <= 'Z') has_upper = 1;
        if (c > maxc) maxc = c;
    }
    if (!has_upper)
        return substr(sc, a, b);
    PyObject *s = PyUnicode_New(b - a, maxc);
    if (!s) return NULL;
    int k = PyUnicode_KIND(s);
    void *d = PyUnicode_DATA(s);
    for (Py_ssize_t i = a; i < b; i++) {
        Py_UCS4 c = RD(sc, i);
        if (c >= 'A' && c <= 'Z') c += 32;
        PyUnicode_WRITE(k, d, i - a, c);
    }
    return s;
}

/* dedup name strings through a self-keyed dict */
static PyObject *
intern_name(Scan *sc, PyObject *s)
{
    if (!s) return NULL;
    PyObject *got = PyDict_SetDefault(sc->interns, s, s);
    if (!got) { Py_DECREF(s); return NULL; }
    Py_INCREF(got);
    Py_DECREF(s);
    return got;
}

static int
emit_fq(Scan *sc, unsigned char type, PyObject *name, PyObject *data,
        PyObject *attrs, unsigned char self_closing,
        unsigned char state_after, unsigned char force_quirks)
{
    TokRec r = {type, self_closing, state_after, force_quirks,
                name, data, attrs, sc->pending_errs};
    sc->pending_errs = NULL;        /* stolen into the record */
    if (recbuf_push(&sc->rb, r) < 0) {
        Py_XDECREF(name); Py_XDECREF(data); Py_XDECREF(attrs);
        Py_XDECREF(r.errs);
        return -1;
    }
    return 0;
}

static int
emit(Scan *sc, unsigned char type, PyObject *name, PyObject *data,
     PyObject *attrs, unsigned char self_closing, unsigned char state_after)
{
    return emit_fq(sc, type, name, data, attrs, self_closing,
                   state_after, 0);
}

#define BAIL(sc, why) do { (sc)->bail = (why); return 1; } while (0)

/* raw-tag table: name -> state (title/textarea RCDATA, script, RAWTEXT
   set).  Compared against the LOWERED tag name. */
static int
raw_state_for(PyObject *lowered_name)
{
    const char *names[] = {"title", "textarea", "script", "style", "xmp",
                           "iframe", "noembed", "noframes", NULL};
    const int states[] = {S_RCDATA, S_RCDATA, S_SCRIPT, S_RAWTEXT,
                          S_RAWTEXT, S_RAWTEXT, S_RAWTEXT, S_RAWTEXT};
    for (int k = 0; names[k]; k++) {
        if (PyUnicode_CompareWithASCIIString(lowered_name, names[k]) == 0)
            return states[k];
    }
    return S_DATA;
}

static int
name_equals(PyObject *lowered_name, const char *s)
{
    return PyUnicode_CompareWithASCIIString(lowered_name, s) == 0;
}

/* ci-compare text[i..) against an ASCII-lower literal of length m */
static int
ci_match(Scan *sc, Py_ssize_t i, const char *lit, Py_ssize_t m)
{
    if (i + m > sc->n) return 0;
    for (Py_ssize_t k = 0; k < m; k++) {
        Py_UCS4 c = RD(sc, i + k);
        if (c >= 'A' && c <= 'Z') c += 32;
        if (c != (Py_UCS4)(unsigned char)lit[k]) return 0;
    }
    return 1;
}

/* append (name, value) to attrs, dropping duplicates (_append_attr) */
static int
attrs_append(PyObject *attrs, PyObject *name, PyObject *value)
{
    Py_ssize_t m = PyList_GET_SIZE(attrs);
    for (Py_ssize_t k = 0; k < m; k++) {
        PyObject *pair = PyList_GET_ITEM(attrs, k);
        int eq = PyObject_RichCompareBool(PyTuple_GET_ITEM(pair, 0),
                                          name, Py_EQ);
        if (eq < 0) { Py_DECREF(name); Py_DECREF(value); return -1; }
        if (eq) { Py_DECREF(name); Py_DECREF(value); return 0; }
    }
    PyObject *t = PyTuple_Pack(2, name, value);
    Py_DECREF(name);
    Py_DECREF(value);
    if (!t) return -1;
    int rc = PyList_Append(attrs, t);
    Py_DECREF(t);
    return rc;
}

/* attr-name accumulation buffer (AFTER_ATTR_NAME no-reset quirk means
   names can span non-contiguous runs) */
#define NAMEBUF_MAX 256
typedef struct {
    Py_UCS4 buf[NAMEBUF_MAX];
    Py_ssize_t len;
    int overflow;
} NameBuf;

static void nb_reset(NameBuf *nb) { nb->len = 0; nb->overflow = 0; }

static void
nb_append_lower(Scan *sc, NameBuf *nb, Py_ssize_t a, Py_ssize_t b)
{
    for (Py_ssize_t i = a; i < b; i++) {
        if (nb->len >= NAMEBUF_MAX) { nb->overflow = 1; return; }
        Py_UCS4 c = RD(sc, i);
        if (c >= 'A' && c <= 'Z') c += 32;
        nb->buf[nb->len++] = c;
    }
}

static PyObject *
nb_to_str(NameBuf *nb)
{
    return PyUnicode_FromKindAndData(PyUnicode_4BYTE_KIND, nb->buf, nb->len);
}

/* per-BYTE "unexpected character in attribute name" errors with a
   FROZEN (line, col) per char: the C reference validates byte by
   byte, advance() running once per byte between reports
   (tokenizer.py ST_ATTR_NAME, src/tokenizer.c:1236-1238) */
static int
bad_name_char_errors(Scan *sc, Py_ssize_t pos, Py_UCS4 c)
{
    long line, col;
    line_col(sc, pos, &line, &col);
    int nby = (c < 0x80) ? 1 : (c < 0x800) ? 2 : (c < 0x10000) ? 3 : 4;
    for (int k = 0; k < nby; k++) {
        PyObject *es = PyUnicode_FromFormat(
            "line=%ld col=%ld: unexpected character in attribute name",
            line, col + k);
        if (!es) return -1;
        if (sc->pending_errs == NULL) {
            sc->pending_errs = PyList_New(0);
            if (!sc->pending_errs) { Py_DECREF(es); return -1; }
        }
        if (PyList_Append(sc->pending_errs, es) < 0) {
            Py_DECREF(es);
            return -1;
        }
        Py_DECREF(es);
    }
    return 0;
}

/* --- start tag parser ---------------------------------------------- */
/* returns 0 ok, 1 bail, -1 error.  *out_i advanced past '>'.          */

enum { ST_BEFORE_NAME_ /*unused*/, ST_TAG_NAME, ST_BEFORE_ATTR, ST_ATTR_NAME,
       ST_AFTER_ATTR_NAME, ST_BEFORE_VALUE, ST_DQ, ST_SQ, ST_UQ, ST_SELF };

static int
parse_start_tag(Scan *sc, Py_ssize_t *io)
{
    Py_ssize_t i = *io + 1;        /* past '<'; caller verified alpha */
    Py_ssize_t n = sc->n;

    /* tag name: single run, stop set { WS, '/', '>' } (no NULs in the
       accepted subset) */
    Py_ssize_t a = i;
    while (i < n) {
        Py_UCS4 c = RD(sc, i);
        if (is_ws(c) || c == '/' || c == '>') break;
        i++;
    }
    PyObject *name = intern_name(sc, lower_substr(sc, a, i));
    if (!name) return -1;

    PyObject *attrs = NULL;
    unsigned char self_closing = 0;
    if (i >= n)         /* "<div" + EOF: token emitted, NO error
                           (ST_TAG_NAME breaks on "\0") */
        goto done;
    NameBuf nb;
    nb_reset(&nb);
    int state = ST_BEFORE_ATTR;     /* entered on WS; '/' and '>' handled */

    Py_UCS4 c = RD(sc, i);
    if (c == '>') {
        i++;
        goto done;
    }
    if (c == '/') {
        state = ST_SELF;
        i++;
    } else {
        i++;                        /* consume the WS */
    }

    attrs = PyList_New(0);
    if (!attrs) { Py_DECREF(name); return -1; }

#define SBAIL(why) do { Py_DECREF(name); Py_XDECREF(attrs); \
                        sc->bail = (why); return 1; } while (0)
#define SERR() do { Py_DECREF(name); Py_XDECREF(attrs); return -1; } while (0)

    while (1) {
        c = (i < n) ? RD(sc, i) : 0;   /* _peek: "\0" at EOF */
        switch (state) {
        case ST_BEFORE_ATTR:
            if (c == 0) { nb_reset(&nb); state = ST_ATTR_NAME; }
            else if (is_ws(c)) { i++; }
            else if (c == '/') { state = ST_SELF; i++; }
            else if (c == '>') { i++; goto done; }
            else if (c == '=') {
                /* recoverable: error, consume, stay (tokenizer
                   ST_BEFORE_ATTR_NAME '=') */
                if (scan_error(sc,
                        "attribute name missing before '='", i) < 0)
                    SERR();
                i++;
            }
            else { nb_reset(&nb); state = ST_ATTR_NAME; }
            break;
        case ST_ATTR_NAME: {
            if (c != 0) {
                if (is_ws(c)) { state = ST_AFTER_ATTR_NAME; i++; break; }
                if (c == '=') { state = ST_BEFORE_VALUE; i++; break; }
            }
            if (c == '/' || c == '>' || c == 0) {
                PyObject *an = nb_to_str(&nb);
                if (!an) SERR();
                an = intern_name(sc, an);
                if (!an) SERR();
                PyObject *ev = PyUnicode_FromStringAndSize("", 0);
                if (!ev) { Py_DECREF(an); SERR(); }
                if (attrs_append(attrs, an, ev) < 0) SERR();
                if (c == '/') { state = ST_SELF; i++; }
                else if (c == '>') { i++; goto done; }
                else goto done;           /* EOF: token still emitted */
                break;
            }
            /* name run: stop set { WS, '=', '/', '>' }; bad chars
               ([^0-9A-Za-z\-_:]) are kept in the (lowered) name and
               error once per UTF-8 byte */
            Py_ssize_t ra = i;
            while (i < n) {
                Py_UCS4 rc_ = RD(sc, i);
                if (is_ws(rc_) || rc_ == '=' || rc_ == '/' || rc_ == '>')
                    break;
                if (!attr_name_ok(rc_)
                    && bad_name_char_errors(sc, i, rc_) < 0)
                    SERR();
                i++;
            }
            nb_append_lower(sc, &nb, ra, i);
            if (nb.overflow) SBAIL("attr-name-too-long");
            break;
        }
        case ST_AFTER_ATTR_NAME:
            if (c != 0 && is_ws(c)) { i++; }
            else if (c == '=') { state = ST_BEFORE_VALUE; i++; }
            else if (c == '>' || c == '/' || c == 0) {
                PyObject *an = nb_to_str(&nb);
                if (!an) SERR();
                an = intern_name(sc, an);
                if (!an) SERR();
                PyObject *ev = PyUnicode_FromStringAndSize("", 0);
                if (!ev) { Py_DECREF(an); SERR(); }
                if (attrs_append(attrs, an, ev) < 0) SERR();
                if (c == '/') { state = ST_SELF; i++; }
                else if (c == '>') { i++; goto done; }
                else goto done;   /* EOF: Python re-enters ATTR_NAME,
                                     re-appends (duplicate-dropped),
                                     then breaks — net effect equal */
            } else {
                /* no-reset quirk: emit current name valueless, keep
                   accumulating into the SAME buffer */
                PyObject *an = nb_to_str(&nb);
                if (!an) SERR();
                an = intern_name(sc, an);
                if (!an) SERR();
                PyObject *ev = PyUnicode_FromStringAndSize("", 0);
                if (!ev) { Py_DECREF(an); SERR(); }
                if (attrs_append(attrs, an, ev) < 0) SERR();
                state = ST_ATTR_NAME;
            }
            break;
        case ST_BEFORE_VALUE:
            if (c == 0) goto done;   /* -> UQ -> "\0" break, NO attr */
            else if (is_ws(c)) { i++; }
            else if (c == '"') { state = ST_DQ; i++; }
            else if (c == '\'') { state = ST_SQ; i++; }
            else if (c == '>') {
                if (scan_error(sc, "attribute value missing", i) < 0)
                    SERR();
                PyObject *an = nb_to_str(&nb);
                if (!an) SERR();
                an = intern_name(sc, an);
                if (!an) SERR();
                PyObject *ev = PyUnicode_FromStringAndSize("", 0);
                if (!ev) { Py_DECREF(an); SERR(); }
                if (attrs_append(attrs, an, ev) < 0) SERR();
                i++;
                goto done;
            }
            else state = ST_UQ;
            break;
        case ST_DQ: case ST_SQ: {
            Py_UCS4 q = (state == ST_DQ) ? '"' : '\'';
            Py_ssize_t e = find_char(sc, q, i);
            if (e == -2) SERR();
            if (e < 0) {            /* unclosed: bulk-consume to EOF,
                                       then "\0" breaks — attr dropped,
                                       value NEVER decoded */
                i = n;
                goto done;
            }
            PyObject *v;
            int rr = region_text(sc, i, e, 1, &v);
            if (rr < 0) SERR();
            if (rr) SBAIL(sc->bail);
            PyObject *an = nb_to_str(&nb);
            if (!an) { Py_DECREF(v); SERR(); }
            an = intern_name(sc, an);
            if (!an) { Py_DECREF(v); SERR(); }
            if (attrs_append(attrs, an, v) < 0) SERR();
            i = e + 1;
            state = ST_BEFORE_ATTR;
            break;
        }
        case ST_UQ: {
            Py_ssize_t va = i;
            while (i < n) {
                Py_UCS4 uc = RD(sc, i);
                if (is_ws(uc) || uc == '>') break;
                i++;
            }
            if (i >= n) goto done;  /* "\0" breaks, attr dropped */
            PyObject *v;
            int rr = region_text(sc, va, i, 1, &v);
            if (rr < 0) SERR();
            if (rr) SBAIL(sc->bail);
            PyObject *an = nb_to_str(&nb);
            if (!an) { Py_DECREF(v); SERR(); }
            an = intern_name(sc, an);
            if (!an) { Py_DECREF(v); SERR(); }
            if (attrs_append(attrs, an, v) < 0) SERR();
            c = RD(sc, i);
            if (c == '>') { i++; goto done; }
            i++;  /* WS */
            state = ST_BEFORE_ATTR;
            break;
        }
        case ST_SELF:
            if (c == '>') { self_closing = 1; i++; goto done; }
            /* "unexpected '/' in start tag" at the char AFTER the
               slash (or EOF); the tag ends HERE without consuming it
               — the rest re-scans as data (tokenizer ST_SELF_CLOSING
               else-branch: error + break) */
            if (scan_error(sc, "unexpected '/' in start tag", i) < 0)
                SERR();
            goto done;
        }
    }

done: ;
    /* PLAINTEXT is a tokenizer-LEVEL switch (_enter_raw_for, no
       builder feedback): the rest of the input is ONE character token
       — no charrefs, no errors, no tags.  state 6 == the Python
       machine's PLAINTEXT. */
    if (name_equals(name, "plaintext")) {
        if (emit(sc, T_START, name, NULL, attrs, self_closing, 6) < 0)
            return -1;
        if (sc->n > i) {
            PyObject *d = substr(sc, i, sc->n);
            if (!d) return -1;
            if (emit(sc, T_CHAR, NULL, d, NULL, 0, 6) < 0) return -1;
        }
        *io = sc->n;
        return 0;
    }
    /* Foreign content (<svg>/<math>) needs nothing from the scanner
       but the CDATA answer (allow_cdata, see scan_all).  The raw state
       comes from the tag name alone, as in tokenizer._enter_raw_for,
       and every raw-state name is a foreign.BREAKOUT_TAGS name, so the
       builder always takes such a tag in HTML mode and never undoes
       the switch (tests/test_fastscan.py pins the subset). */
    if (name_equals(name, "svg") || name_equals(name, "math"))
        sc->seen_foreign = 1;
    int rstate = raw_state_for(name);
    if (emit(sc, T_START, name, NULL, attrs, self_closing,
             (unsigned char)rstate) < 0)
        return -1;
    *io = i;

    if (rstate != S_DATA) {
        /* raw content scan — entered regardless of self_closing, like
           _enter_raw_for.  Emits the body (if nonempty) as ONE token,
           leaving *io at the '<' of the matching end tag (the main
           loop then parses it as a normal end tag). */
        PyObject *lname = name;  /* borrowed via recs (still alive) */
        Py_ssize_t start = i;
        if (rstate == S_SCRIPT) {
            /* full escaped/double-escaped DFA (exact mirror of the
               Python machine, no error states) — "</script>" inside
               a DOUBLE-escaped region stays body text and the body
               ends at the DATA/ESCAPED-family terminator only */
            Py_ssize_t lt;
            if (script_end_scan(sc, start, &lt) < 0) return -1;
            if (lt < 0) {
                /* EOF in script data: emit remainder, back to DATA */
                if (sc->n > start) {
                    /* raw tz->pos++ scan, no advance() (positions of
                       later errors are stale over it, tokenizer:620) */
                    if (push_skip(sc, start, sc->n) < 0) return -1;
                    PyObject *d = substr(sc, start, sc->n);
                    if (!d) return -1;
                    if (emit(sc, T_CHAR, NULL, d, NULL, 0, S_DATA) < 0)
                        return -1;
                }
                *io = sc->n;
                return 0;
            }
            if (lt > start) {
                if (push_skip(sc, start, lt) < 0) return -1;
                PyObject *d = substr(sc, start, lt);
                if (!d) return -1;
                if (emit(sc, T_CHAR, NULL, d, NULL, 0, S_DATA) < 0)
                    return -1;
            }
            *io = lt;
            return 0;
        }
        while (1) {
            Py_ssize_t lt = find_char(sc, '<', i);
            if (lt == -2) return -1;
            if (lt < 0) {
                /* EOF in raw state: emit remainder, back to DATA */
                if (sc->n > start) {
                    /* raw tz->pos++ scan, no advance() (tokenizer:380) */
                    if (push_skip(sc, start, sc->n) < 0) return -1;
                    /* RCDATA (title/textarea) processes charrefs;
                       RAWTEXT never does, '&' stays literal */
                    PyObject *d;
                    if (rstate == S_RCDATA) {
                        int rr = region_text(sc, start, sc->n, 0, &d);
                        if (rr) return rr;
                    } else {
                        d = substr(sc, start, sc->n);
                        if (!d) return -1;
                    }
                    if (emit(sc, T_CHAR, NULL, d, NULL, 0, S_DATA) < 0)
                        return -1;
                }
                *io = sc->n;
                return 0;
            }
            if (lt + 1 >= sc->n) { i = lt + 1; continue; }
            Py_UCS4 c2 = RD(sc, lt + 1);
            if (c2 != '/') {
                i = lt + 1;
                continue;
            }
            /* accumulate alpha run (cap 15), compare lowered name */
            Py_ssize_t p = lt + 2, tl = 0;
            Py_UCS4 tmp[16];
            while (p < sc->n && is_alpha(RD(sc, p)) && tl < 15) {
                Py_UCS4 tc = RD(sc, p);
                if (tc >= 'A' && tc <= 'Z') tc += 32;
                tmp[tl++] = tc;
                p++;
            }
            if (p >= sc->n) { i = lt + 2; continue; }  /* EOF later */
            Py_UCS4 term = RD(sc, p);
            if (tl == 15 && is_alpha(term)) { i = p; continue; }
            if (!(is_ws(term) || term == '/' || term == '>')) {
                i = p; continue;
            }
            /* terminator reached: compare to raw tag */
            Py_ssize_t want = PyUnicode_GET_LENGTH(lname);
            int match = (tl == want);
            if (match) {
                for (Py_ssize_t k = 0; k < tl; k++) {
                    if (PyUnicode_READ_CHAR(lname, k) != tmp[k]) {
                        match = 0; break;
                    }
                }
            }
            if (!match) { i = p; continue; }
            if (lt > start) {
                /* raw tz->pos++ scan, no advance() (tokenizer:356) */
                if (push_skip(sc, start, lt) < 0) return -1;
                PyObject *d;
                if (rstate == S_RCDATA) {
                    int rr = region_text(sc, start, lt, 0, &d);
                    if (rr) return rr;
                } else {
                    d = substr(sc, start, lt);
                    if (!d) return -1;
                }
                if (emit(sc, T_CHAR, NULL, d, NULL, 0, S_DATA) < 0)
                    return -1;
            }
            *io = lt;
            return 0;
        }
    }
    return 0;
#undef SBAIL
#undef SERR
}

/* --- whole-document scan ------------------------------------------- */

/* bogus comment (tokenizer next(), src/tokenizer.c:1581-1593) at the
   "<!" at *io: error at the '<', comment data = chars after "<!" up to
   (not incl.) the next '>' or EOF */
static int
scan_bogus_comment(Scan *sc, Py_ssize_t *io)
{
    Py_ssize_t i = *io, n = sc->n;
    if (scan_error(sc, "bogus markup declaration", i) < 0)
        return -1;
    Py_ssize_t gt = find_char(sc, '>', i + 2);
    if (gt == -2) return -1;
    PyObject *d = substr(sc, i + 2, gt < 0 ? n : gt);
    if (!d) return -1;
    if (emit(sc, T_COMMENT, NULL, d, NULL, 0, S_DATA) < 0)
        return -1;
    *io = (gt < 0) ? n : gt + 1;
    return 0;
}

/* The "<![CDATA[" opener at sc->pos, once the builder has answered
   allow_cdata (tokenizer next()'s CDATA branch): the section as ONE
   character token, or a bogus comment when CDATA is not allowed. */
static int
scan_cdata(Scan *sc, int allow_cdata)
{
    Py_ssize_t i = sc->pos, n = sc->n;
    if (!allow_cdata) {
        if (scan_bogus_comment(sc, &i) < 0) return -1;
        sc->pos = i;
        return 0;
    }
    Py_ssize_t start = i + 9, end = -1;
    for (Py_ssize_t k = start; k + 2 < n; k++) {
        if (RD(sc, k) == ']' && RD(sc, k + 1) == ']'
                && RD(sc, k + 2) == '>') { end = k; break; }
    }
    PyObject *d = substr(sc, start, end < 0 ? n : end);
    if (!d) return -1;
    if (end < 0) {
        /* unclosed: advance() stops at len-2, then a raw jump to the
           end (src/tokenizer.c:1578) — later positions are stale */
        Py_ssize_t a = start > n - 2 ? start : n - 2;
        if (a < n && push_skip(sc, a, n) < 0) {
            Py_DECREF(d);
            return -1;
        }
    }
    if (emit(sc, T_CHAR, NULL, d, NULL, 0, S_DATA) < 0) return -1;
    sc->pos = end < 0 ? n : end + 3;
    return 0;
}

/* global pre-checks, once per input: NUL, surrogates; 0 ok, 1 bail */
static int
scan_precheck(Scan *sc)
{
    /* surrogates come from surrogateescape byte fusion.  One pass,
       then the main scan never needs to re-check.
       NOT global:
       - '&': literal ampersands are accepted per-region and charref
         attempts are delegated to the kernel's decoder (region_text);
       - '\r': this kernel preserves CR verbatim in token data (no
         CRLF normalization — reference deviation) and treats it as
         whitespace in every tag-machine state exactly like is_ws()
         here; the CR paths that ERROR in the Python machine
         (\r before '>' in end tags, after '/') already end in bails
         because they break the immediate-'>' / self-closing shape. */
    for (Py_ssize_t k = 0; k < sc->n; k++) {
        Py_UCS4 c = RD(sc, k);
        if (c == 0 || (c >= 0xD800 && c <= 0xDFFF))
            BAIL(sc, "precheck");
    }
    return 0;
}

/* Scan from sc->pos.  Returns 0 at the end of the input, 1 bail, 2
   paused at a CDATA opener (pause_cdata; sc->pos is the '<'), -1
   python error. */
static int
scan_all(Scan *sc)
{
    Py_ssize_t i = sc->pos, n = sc->n;
    while (i < n) {
        Py_UCS4 c = RD(sc, i);
        if (c != '<') {
            Py_ssize_t lt = find_char(sc, '<', i);
            if (lt == -2) return -1;
            Py_ssize_t e = (lt < 0) ? n : lt;
            PyObject *d;
            int rr = region_text(sc, i, e, 0, &d);
            if (rr) return rr;
            if (emit(sc, T_CHAR, NULL, d, NULL, 0, S_DATA) < 0) return -1;
            i = e;
            continue;
        }
        if (i + 1 >= n) {
            /* '<' at EOF: literal '<' character, no error */
            PyObject *d = PyUnicode_FromStringAndSize("<", 1);
            if (!d) return -1;
            if (emit(sc, T_CHAR, NULL, d, NULL, 0, S_DATA) < 0) return -1;
            i++;
            continue;
        }
        Py_UCS4 c1 = RD(sc, i + 1);
        if (c1 == '/') {
            if (i + 2 >= n || !is_alpha(RD(sc, i + 2))) {
                /* reference deviation (tokenizer next(), 1181-1190):
                   "invalid end tag" error at the '<', then a literal
                   '<' CHARACTER token; the '/' and what follows are
                   re-scanned as ordinary data */
                if (scan_error(sc, "invalid end tag", i) < 0) return -1;
                PyObject *d = PyUnicode_FromStringAndSize("<", 1);
                if (!d) return -1;
                if (emit(sc, T_CHAR, NULL, d, NULL, 0, S_DATA) < 0)
                    return -1;
                i++;
                continue;
            }
            /* name run [^ WS > /]* (_END_NAME_RUN), then:
               '>' -> clean close; EOF -> token, pos=n, NO error;
               anything else -> "end tag has trailing garbage/
               attributes" at the first garbage char, silent skip to
               after the next '>' (tokenizer._parse_end_tag) */
            Py_ssize_t a = i + 2, p = a;
            while (p < n) {
                Py_UCS4 ec = RD(sc, p);
                if (is_ws(ec) || ec == '>' || ec == '/') break;
                p++;
            }
            PyObject *nm = intern_name(sc, lower_substr(sc, a, p));
            if (!nm) return -1;
            if (p >= n) {
                if (emit(sc, T_END, nm, NULL, NULL, 0, S_DATA) < 0)
                    return -1;
                i = n;
                continue;
            }
            if (RD(sc, p) != '>') {
                if (scan_error(sc,
                        "end tag has trailing garbage/attributes",
                        p) < 0) {
                    Py_DECREF(nm);
                    return -1;
                }
                Py_ssize_t gt = find_char(sc, '>', p);
                if (gt == -2) { Py_DECREF(nm); return -1; }
                if (emit(sc, T_END, nm, NULL, NULL, 0, S_DATA) < 0)
                    return -1;
                i = (gt < 0) ? n : gt + 1;
                continue;
            }
            if (emit(sc, T_END, nm, NULL, NULL, 0, S_DATA) < 0) return -1;
            i = p + 1;
            continue;
        }
        if (c1 == '!') {
            if (i + 3 < n && RD(sc, i + 2) == '-' && RD(sc, i + 3) == '-') {
                /* comment: data is EXACTLY text[b:e) where e is the
                   FIRST "-->" occurrence, consumed through e+2.  Proof
                   sketch against _parse_comment's 10-state machine:
                   every consumed char is eventually appended to data
                   except the final "--" ">" — dash runs park in
                   COMMENT_END appending the extra dashes ("a---->" ->
                   "a--"), "--!" is appended by COMMENT_END_BANG on
                   '-', and the LT_BANG(_DASH*) chain either closes on
                   the straddled terminator ("...<!" + "-->", data
                   keeps "<!") or raises nested-comment.  The machine
                   can only CLOSE at a literal "-->" (COMMENT_END '>')
                   or at an ERROR shape, so on the error-free subset
                   the close point IS the first "-->".  Error shapes
                   (all -> parse_comment_full, the exact 10-state
                   mirror with positioned errors):
                     - abrupt close: <!--> / <!---> (START/START_DASH)
                     - no terminator: eof-in-comment
                     - "--!>" before e: incorrectly-closed-comment
                       (END_BANG '>'; its "--" is always literal, so
                       the substring test is exact — it cannot span
                       the terminator: that would need '!' where the
                       terminator has '-')
                     - "<!--" starting at k <= e-3: nested-comment
                       (LT_BANG_DASH_DASH next char is not '>': if
                       both dashes sit in the body, first-"-->" means
                       the next char is not '>'; if they straddle one
                       terminator dash, k = e-3, the next char is the
                       other dash).  k = e-2 — both dashes ARE the
                       terminator's — closes silently, accepted. */
                Py_ssize_t b = i + 4, e = -1;
                int hard = 0;   /* error shape -> full 10-state machine */
                if (b < n && RD(sc, b) == '>')
                    hard = 1;
                if (b + 1 < n && RD(sc, b) == '-' && RD(sc, b + 1) == '>')
                    hard = 1;
                if (!hard) {
                    for (Py_ssize_t k = b; k + 2 < n; k++) {
                        if (RD(sc, k) == '-' && RD(sc, k + 1) == '-'
                            && RD(sc, k + 2) == '>') { e = k; break; }
                    }
                    if (e < 0) hard = 1;
                }
                if (!hard) {
                    for (Py_ssize_t k = b; k + 3 < e; k++) {
                        if (RD(sc, k) == '-' && RD(sc, k + 1) == '-'
                            && RD(sc, k + 2) == '!' && RD(sc, k + 3) == '>')
                            { hard = 1; break; }
                    }
                    for (Py_ssize_t k = b; !hard && k + 3 <= e; k++) {
                        if (RD(sc, k) == '<' && RD(sc, k + 1) == '!'
                            && RD(sc, k + 2) == '-' && RD(sc, k + 3) == '-')
                            { hard = 1; break; }
                    }
                }
                if (hard) {
                    /* exact machine: positioned errors + reassembled
                       data (abrupt close, EOF, "--!>", nested) */
                    if (parse_comment_full(sc, &i) < 0) return -1;
                    continue;
                }
                PyObject *d = substr(sc, b, e);
                if (!d) return -1;
                if (emit(sc, T_COMMENT, NULL, d, NULL, 0, S_DATA) < 0)
                    return -1;
                i = e + 3;
                continue;
            }
            if (ci_match(sc, i, "<!doctype", 9)) {
                /* full _parse_doctype mirror INCLUDING its error
                   shapes: name missing, id quote missing, id closing
                   quote missing — each sets force_quirks and emits
                   the positioned error (pos = the machine's pos at
                   the _error call); an unclosed quote still captures
                   the partial id to EOF, lowered, like the Python
                   while-loop.  The PUBLIC second id's ABSENCE stays
                   silent.  Ids ride the DOCTYPE record's (data,
                   attrs) slots, which doctypes never use otherwise. */
                unsigned char fq = 0;
                Py_ssize_t p = i + 9;
                while (p < n && is_ws(RD(sc, p))) p++;
                Py_ssize_t a = p;
                while (p < n && !is_ws(RD(sc, p)) && RD(sc, p) != '>') p++;
                if (p == a) {
                    fq = 1;
                    if (scan_error(sc, "doctype name missing", p) < 0)
                        return -1;
                }
                PyObject *nm = intern_name(sc, lower_substr(sc, a, p));
                if (!nm) return -1;
                while (p < n && is_ws(RD(sc, p))) p++;
                PyObject *pub = NULL, *sysid = NULL;
                int kw_public = ci_match(sc, p, "public", 6);
                if (kw_public || ci_match(sc, p, "system", 6)) {
                    p += 6;
                    while (p < n && is_ws(RD(sc, p))) p++;
                    Py_UCS4 q = (p < n) ? RD(sc, p) : 0;
                    if (q != '"' && q != '\'') {
                        fq = 1;
                        if (scan_error(sc, kw_public
                                ? "doctype public id missing"
                                : "doctype system id missing", p) < 0) {
                            Py_DECREF(nm);
                            return -1;
                        }
                    } else {
                        p++;
                        Py_ssize_t e1 = find_char(sc, q, p);
                        if (e1 == -2) { Py_DECREF(nm); return -1; }
                        Py_ssize_t stop = (e1 < 0) ? n : e1;
                        PyObject *id1 = lower_substr(sc, p, stop);
                        if (!id1) { Py_DECREF(nm); return -1; }
                        if (e1 < 0) {
                            fq = 1;
                            if (scan_error(sc, kw_public
                                    ? "doctype public id missing "
                                      "closing quote"
                                    : "doctype system id missing "
                                      "closing quote", n) < 0) {
                                Py_DECREF(nm); Py_DECREF(id1);
                                return -1;
                            }
                            p = n;
                        } else {
                            p = e1 + 1;
                        }
                        if (kw_public) {
                            pub = id1;
                            while (p < n && is_ws(RD(sc, p))) p++;
                            Py_UCS4 q2 = (p < n) ? RD(sc, p) : 0;
                            if (q2 == '"' || q2 == '\'') {
                                p++;
                                Py_ssize_t e2 = find_char(sc, q2, p);
                                if (e2 == -2) {
                                    Py_DECREF(nm); Py_DECREF(pub);
                                    return -1;
                                }
                                Py_ssize_t st2 = (e2 < 0) ? n : e2;
                                sysid = lower_substr(sc, p, st2);
                                if (!sysid) {
                                    Py_DECREF(nm); Py_DECREF(pub);
                                    return -1;
                                }
                                if (e2 < 0) {
                                    fq = 1;
                                    if (scan_error(sc,
                                            "doctype system id missing "
                                            "closing quote", n) < 0) {
                                        Py_DECREF(nm); Py_DECREF(pub);
                                        Py_DECREF(sysid);
                                        return -1;
                                    }
                                    p = n;
                                } else {
                                    p = e2 + 1;
                                }
                            }
                        } else {
                            sysid = id1;
                        }
                    }
                }
                /* silent skip to '>' (no error even over garbage) */
                Py_ssize_t gt = find_char(sc, '>', p);
                if (gt == -2) {
                    Py_DECREF(nm); Py_XDECREF(pub); Py_XDECREF(sysid);
                    return -1;
                }
                if (emit_fq(sc, T_DOCTYPE, nm, pub, sysid, 0, S_DATA,
                            fq) < 0)
                    return -1;
                i = (gt < 0) ? n : gt + 1;
                continue;
            }
            /* "<!" not comment/doctype: the CDATA branch is gated on
               allow_cdata, builder feedback (stack top not HTML).
               The fused builder answers it: pause here, scan_cdata
               resumes.  Without a builder (make_feed) it can only be
               true after a <svg>/<math> start tag — the fragment
               context is always an HTML element — so only then bail.
               The EXACT-case "[CDATA[" probe is what the Python
               machine tests (tokenizer next()). */
            if (i + 8 < n
                && RD(sc, i + 2) == '[' && RD(sc, i + 3) == 'C'
                && RD(sc, i + 4) == 'D' && RD(sc, i + 5) == 'A'
                && RD(sc, i + 6) == 'T' && RD(sc, i + 7) == 'A'
                && RD(sc, i + 8) == '[') {
                if (sc->pause_cdata) {
                    sc->pos = i;
                    return 2;
                }
                if (sc->seen_foreign)
                    BAIL(sc, "cdata-after-foreign");
            }
            if (scan_bogus_comment(sc, &i) < 0) return -1;
            continue;
        }
        if (is_alpha(c1)) {
            int rc = parse_start_tag(sc, &i);
            if (rc) return rc;
            continue;
        }
        /* '<' before non-special char: literal '<', no error */
        {
            PyObject *d = PyUnicode_FromStringAndSize("<", 1);
            if (!d) return -1;
            if (emit(sc, T_CHAR, NULL, d, NULL, 0, S_DATA) < 0) return -1;
            i++;
        }
    }
    sc->pos = n;
    return 0;
}

/* ------------------------------------------------------------------ */
/* scan driver + feed construction (shared by make_feed and the fused  */
/* builder's hand-over on a tree bail)                                 */
/* ------------------------------------------------------------------ */

static const char *last_bail = NULL;

/* Set up a scan of `text` and run the global pre-checks.  Returns 0,
   1 scanner bail (sc->bail set), -1 python error; scan_end releases
   what it holds in every case. */
static int
scan_begin(Scan *sc, PyObject *text, PyObject *decode_fn)
{
    memset(sc, 0, sizeof(*sc));
    sc->text = text;
    sc->kind = PyUnicode_KIND(text);
    sc->data = PyUnicode_DATA(text);
    sc->n = PyUnicode_GET_LENGTH(text);
    sc->decode_fn = (decode_fn && decode_fn != Py_None) ? decode_fn : NULL;
    sc->lc_line = 1;
    sc->lc_col = 1;
    sc->interns = PyDict_New();
    if (!sc->interns) return -1;
    return scan_precheck(sc);
}

/* Release a scan; `keep` leaves the records and skip ranges for
   feed_from_scan, which takes them over. */
static void
scan_end(Scan *sc, int keep)
{
    Py_CLEAR(sc->interns);
    Py_CLEAR(sc->pending_errs);  /* set-then-bail leaves a remnant */
    if (!keep) {
        recbuf_clear(&sc->rb);
        PyMem_Free(sc->skips);
        sc->skips = NULL;
    }
}

/* Scan all of `text` into sc->rb, with no builder to answer
   allow_cdata.  Returns 0 accepted, 1 scanner bail (sc->bail set,
   records freed), -1 python error (records freed). */
static int
scan_text(Scan *sc, PyObject *text, PyObject *decode_fn)
{
    int rc = scan_begin(sc, text, decode_fn);
    if (rc == 0) rc = scan_all(sc);
    scan_end(sc, rc == 0);
    return rc;
}

/* Wrap an accepted scan's records in a FastFeed.  Takes ownership of
   the records and skip ranges in every case. */
static PyObject *
feed_from_scan(Scan *sc, PyObject *text, PyObject *errors)
{
    /* the skipped list the Python tokenizer exposes (appended there
       per raw-scan invocation; the feed is pre-tokenized, so it is
       complete up front — nothing reads it mid-stream) */
    PyObject *skipped = PyList_New(sc->n_skips);
    if (!skipped) {
        recbuf_clear(&sc->rb);
        PyMem_Free(sc->skips);
        return NULL;
    }
    for (Py_ssize_t k = 0; k < sc->n_skips; k++) {
        PyObject *pair = Py_BuildValue("(nn)", sc->skips[k].a,
                                       sc->skips[k].b);
        if (!pair) {
            Py_DECREF(skipped);
            recbuf_clear(&sc->rb);
            PyMem_Free(sc->skips);
            return NULL;
        }
        PyList_SET_ITEM(skipped, k, pair);
    }
    PyMem_Free(sc->skips);
    sc->skips = NULL;

    FastFeed *f = PyObject_New(FastFeed, &FastFeed_Type);
    if (!f) { recbuf_clear(&sc->rb); Py_DECREF(skipped); return NULL; }
    /* null every pointer first so dealloc is safe on partial init */
    f->text = NULL; f->raw_tag = NULL; f->errors = NULL;
    f->skipped = NULL; f->scratch = NULL;
    f->recs = sc->rb.recs;      /* ownership moves */
    f->n = sc->rb.n;
    sc->rb.recs = NULL;
    sc->rb.n = sc->rb.cap = 0;
    f->i = 0;
    f->state = S_DATA;
    f->allow_cdata = 0;
    Py_INCREF(text);
    f->text = text;
    f->raw_tag = PyUnicode_FromStringAndSize("", 0);
    Py_INCREF(errors);
    f->errors = errors;
    f->skipped = skipped;       /* ownership moves */
    f->scratch = PyObject_New(FastToken, &FastToken_Type);
    if (!f->raw_tag || !f->scratch) {
        Py_DECREF(f);
        return NULL;
    }
    FastToken *t = f->scratch;
    t->type = T_EOF;
    Py_INCREF(Py_None); t->name = Py_None;
    Py_INCREF(Py_None); t->public_id = Py_None;
    Py_INCREF(Py_None); t->system_id = Py_None;
    Py_INCREF(Py_None); t->data = Py_None;
    Py_INCREF(EMPTY_ATTRS); t->attrs = EMPTY_ATTRS;
    t->self_closing = 0;
    t->force_quirks = 0;
    return (PyObject *)f;
}

static PyObject *
make_feed(PyObject *Py_UNUSED(mod), PyObject *args)
{
    PyObject *text, *errors, *decode_fn = NULL;
    last_bail = NULL;
    if (!PyArg_ParseTuple(args, "UO|O", &text, &errors, &decode_fn))
        return NULL;
    if (PyUnicode_READY(text) < 0)
        return NULL;
    Scan sc;
    int rc = scan_text(&sc, text, decode_fn);
    if (rc < 0) return NULL;
    if (rc > 0) {
        last_bail = sc.bail;
        Py_RETURN_NONE;
    }
    return feed_from_scan(&sc, text, errors);
}

/* ------------------------------------------------------------------ */
/* fused tree builder (subset and bails: see the file header)          */
/*                                                                     */
/* A port of kernel/treebuilder.py driven directly by the TokRecs.     */
/* Each helper names the TreeBuilder method it mirrors; the order of   */
/* checks, the error texts and the reference deviations kept there are */
/* kept here — a change to one builder needs the same change in the   */
/* other (tools/fuzz_diff.py --fused compares them).  Out-of-memory,   */
/* Python errors and bails unwind through TB.fail (longjmp): all the   */
/* builder owns lives in TB, which tb_free releases on every path.     */
/* ------------------------------------------------------------------ */

#define FB_STACK_MAX 256      /* treebuilder.STACK_MAX */
#define FB_FMT_MAX 64         /* treebuilder.FMT_MAX */
#define FB_TMODE_MAX 64       /* treebuilder.TEMPLATE_MODE_MAX */

/* every tag name the builder tests; anything else is TAG_OTHER and
   compares by string.  A node's tag is always tag_of(its name), also
   in foreign content, so comparing tags IS comparing names. */
#define TAG_LIST(X) \
    X(a) X(address) X(applet) X(area) X(article) X(aside) X(b) X(base) \
    X(basefont) X(bgsound) X(big) X(blockquote) X(body) X(br) X(button) \
    X(caption) X(center) X(code) X(col) X(colgroup) X(content) X(dd) \
    X(desc) X(details) X(dir) X(div) X(dl) X(dt) X(em) X(embed) \
    X(fieldset) X(figcaption) X(figure) X(font) X(footer) X(form) \
    X(frame) X(frameset) X(h1) X(h2) X(h3) X(h4) X(h5) X(h6) X(head) \
    X(header) X(hgroup) X(hr) X(html) X(i) X(iframe) X(img) X(input) \
    X(li) X(link) X(listing) X(main) X(malignmark) X(marquee) X(math) \
    X(menu) X(meta) X(mglyph) X(mi) X(mn) X(mo) X(ms) X(mtext) X(nav) \
    X(nobr) X(noembed) X(noframes) X(noscript) X(object) X(ol) \
    X(optgroup) X(option) X(p) X(param) X(plaintext) X(pre) X(rb) X(rp) \
    X(rt) X(rtc) X(s) X(script) X(section) X(select) X(small) X(source) \
    X(span) X(strike) X(strong) X(style) X(sub) X(summary) X(sup) X(svg) \
    X(table) X(tbody) X(td) X(template) X(textarea) X(tfoot) X(th) \
    X(thead) X(title) X(tr) X(track) X(tt) X(u) X(ul) X(var) X(wbr) \
    X(xmp)

enum {
    TAG_OTHER = 0,
#define X(n) TAG_##n,
    TAG_LIST(X)
#undef X
    TAG_COUNT
};

static const char *TAG_STR[TAG_COUNT] = {
    "",
#define X(n) #n,
    TAG_LIST(X)
#undef X
};

/* tag-set flags: each mirrors one treebuilder.py / foreign.py set */
#define F_FMT          (1u << 0)   /* FMT_TAGS */
#define F_EOF_EXPECTED (1u << 1)   /* _EOF_EXPECTED */
#define F_IMPLIED      (1u << 2)   /* _IMPLIED_END */
#define F_IMPLIED_ALL  (1u << 3)   /* _IMPLIED_END_THOROUGH */
#define F_SCOPING      (1u << 4)   /* _SCOPING (== foreign.HTML_SCOPING) */
#define F_LI_SCOPING   (1u << 5)   /* _LIST_ITEM_SCOPING */
#define F_BTN_SCOPING  (1u << 6)   /* _BUTTON_SCOPING */
#define F_TBL_SCOPING  (1u << 7)   /* _TABLE_SCOPING */
#define F_HEAD_EL      (1u << 8)   /* _HEAD_ELEMENTS */
#define F_NOSCRIPT_EL  (1u << 9)   /* _HEAD_NOSCRIPT_ELEMENTS */
#define F_TMPL_HEAD    (1u << 10)  /* _TEMPLATE_HEAD_ELEMENTS */
#define F_VOID         (1u << 11)  /* _VOID_ELEMENTS */
#define F_TABLE_EL     (1u << 12)  /* _TABLE_ELEMENTS */
#define F_SECTION      (1u << 13)  /* _TABLE_SECTIONS */
#define F_CELL         (1u << 14)  /* _CELLS */
#define F_FOSTER       (1u << 15)  /* _FOSTER_TARGETS */
#define F_BODY_IGNORED (1u << 16)  /* _BODY_IGNORED_START */
#define F_BLOCK_LIKE   (1u << 17)  /* _BLOCK_LIKE */
#define F_HEADING      (1u << 18)  /* _HEADINGS */
#define F_SPECIAL      (1u << 19)  /* foreign.HTML_SPECIAL */
#define F_BREAKOUT     (1u << 20)  /* foreign.BREAKOUT_TAGS */

static const struct { unsigned flag; const char *names; } TAG_SETS[] = {
    {F_FMT, "a b big code em font i nobr s small strike strong tt u"},
    {F_EOF_EXPECTED, "dd dt li optgroup option p rb rp rt rtc tbody td "
                     "tfoot th thead tr body html"},
    {F_IMPLIED, "dd dt li optgroup option p rb rp rt rtc"},
    {F_IMPLIED_ALL, "dd dt li optgroup option p rb rp rt rtc caption "
                    "colgroup tbody td tfoot th thead tr"},
    {F_SCOPING, "applet caption html table td th marquee object template"},
    {F_LI_SCOPING, "applet caption html table td th marquee object "
                   "template ol ul"},
    {F_BTN_SCOPING, "applet caption html table td th marquee object "
                    "template button"},
    {F_TBL_SCOPING, "html table template"},
    {F_HEAD_EL, "base link meta style noscript template title script"},
    {F_NOSCRIPT_EL, "basefont bgsound link meta noframes style"},
    {F_TMPL_HEAD, "base basefont bgsound link meta noframes noscript "
                  "script style template title"},
    {F_VOID, "area base br col embed hr img input link meta param source "
             "track wbr"},
    {F_TABLE_EL, "table tbody thead tfoot tr td th caption colgroup col"},
    {F_SECTION, "tbody thead tfoot"},
    {F_CELL, "td th"},
    {F_FOSTER, "table tbody tfoot thead tr"},
    {F_BODY_IGNORED, "caption col colgroup frame head tbody td tfoot th "
                     "thead tr"},
    {F_BLOCK_LIKE, "address article aside blockquote div dl fieldset "
                   "footer form h1 h2 h3 h4 h5 h6 header hr main nav ol p "
                   "plaintext pre section table ul"},
    {F_HEADING, "h1 h2 h3 h4 h5 h6"},
    {F_SPECIAL, "address applet area article aside base basefont "
                "blockquote body br button caption center col colgroup dd "
                "details dir div dl dt embed fieldset figcaption figure "
                "footer form frame frameset h1 h2 h3 h4 h5 h6 head header "
                "hgroup hr html iframe img input li link listing main "
                "marquee menu meta nav noembed noframes noscript object ol "
                "p param plaintext pre script section select source style "
                "summary table tbody td template textarea tfoot th thead "
                "title tr track ul wbr xmp"},
    {F_BREAKOUT, "a address applet area article aside b base basefont "
                 "bgsound big blockquote body br button caption center "
                 "code col colgroup dd details dir div dl dt em embed "
                 "fieldset figcaption figure footer form frame frameset "
                 "h1 h2 h3 h4 h5 h6 head header hgroup hr html i iframe "
                 "img input li link listing main marquee menu meta nav "
                 "nobr noembed noframes noscript object ol p param "
                 "plaintext pre s script section select small source span "
                 "strike strong style sub summary sup table tbody td "
                 "template textarea tfoot th thead title tr track tt u ul "
                 "var wbr xmp"},
};

static unsigned TAG_FLAGS[TAG_COUNT];
static PyObject *TAG_NAME[TAG_COUNT];   /* str per tag id */
static PyObject *TAG_IDS;               /* dict: str -> int tag id */

/* foreign.SVG_ELEMENT_MAP: lowered name -> SVG element name.  Only the
   element names are adjusted: span paths carry them, while no foreign
   attribute reaches the extraction, and the one the builder reads
   (annotation-xml's "encoding", MathML) no attribute map renames. */
static const char *SVG_NAME_PAIRS[] = {
    "altglyph", "altGlyph", "altglyphdef", "altGlyphDef",
    "altglyphitem", "altGlyphItem", "animatecolor", "animateColor",
    "animatemotion", "animateMotion", "animatetransform", "animateTransform",
    "clippath", "clipPath", "feblend", "feBlend",
    "fecolormatrix", "feColorMatrix",
    "fecomponenttransfer", "feComponentTransfer", "fecomposite", "feComposite",
    "feconvolvematrix", "feConvolveMatrix",
    "fediffuselighting", "feDiffuseLighting",
    "fedisplacementmap", "feDisplacementMap",
    "fedistantlight", "feDistantLight", "fedropshadow", "feDropShadow",
    "feflood", "feFlood", "fefunca", "feFuncA", "fefuncb", "feFuncB",
    "fefuncg", "feFuncG", "fefuncr", "feFuncR",
    "fegaussianblur", "feGaussianBlur", "feimage", "feImage",
    "femerge", "feMerge", "femergenode", "feMergeNode",
    "femorphology", "feMorphology", "feoffset", "feOffset",
    "fepointlight", "fePointLight",
    "fespecularlighting", "feSpecularLighting", "fespotlight", "feSpotLight",
    "fetile", "feTile", "feturbulence", "feTurbulence",
    "foreignobject", "foreignObject", "glyphref", "glyphRef",
    "lineargradient", "linearGradient", "radialgradient", "radialGradient",
    "textpath", "textPath", NULL,
};
static PyObject *SVG_NAMES;             /* dict built from SVG_NAME_PAIRS */
static PyObject *NAME_FOREIGN_OBJECT, *NAME_ANNOTATION_XML, *KEY_ENCODING;

#define HAS(tag, f) ((TAG_FLAGS[(tag)] & (f)) != 0)

/* tree-builder error texts (bare, unpositioned) */
#define ERR_LIST(X) \
    X(E_BEFORE_TEMPLATE, "unexpected-element-before-template") \
    X(E_AAA_MISMATCH, "aaa-implied-mismatch") \
    X(E_AAA_SCOPE, "adoption-agency-1.1") \
    X(E_STRAY_DOCTYPE, "stray-doctype") \
    X(E_EOF_TEMPLATE, "eof-in-template") \
    X(E_START_TAG, "unexpected-start-tag") \
    X(E_FOSTER, "foster-parenting") \
    X(E_EOF_TEXT, "eof-in-text") \
    X(E_NS_DOCTYPE, "stray-doctype-in-head-noscript") \
    X(E_NS_CHAR, "char-in-head-noscript") \
    X(E_NS_START, "unexpected-start-tag-in-head-noscript") \
    X(E_NS_BR, "end-tag-br-in-head-noscript") \
    X(E_NS_END, "unexpected-end-tag-in-head-noscript") \
    X(E_NS_EOF, "eof-in-head-noscript") \
    X(E_EOF_DOCTYPE, "eof-before-doctype") \
    X(E_EOF_OPEN, "eof-with-open-elements") \
    X(E_EOF_TABLE, "eof-in-table") \
    X(E_NO_DOCTYPE, "missing-doctype") \
    X(E_START_IN_TABLE, "unexpected-start-tag-in-table") \
    X(E_START_IN_SELECT, "unexpected-start-tag-in-select") \
    X(E_END_TAG, "unexpected-end-tag") \
    X(E_END_UNCLOSED, "end-tag-with-unclosed-elements") \
    X(E_AFTER_BODY, "unexpected-token-after-body")

enum {
#define X(id, s) id,
    ERR_LIST(X)
#undef X
    E_COUNT
};
static const char *ERR_STR[E_COUNT] = {
#define X(id, s) s,
    ERR_LIST(X)
#undef X
};
static PyObject *ERR_OBJ[E_COUNT];
static PyObject *KEY_START, *KEY_END, *KEY_PATH;

/* insertion modes (treebuilder.py order) and dispatch outcomes */
enum { M_INITIAL, M_BEFORE_HTML, M_IN_HEAD, M_IN_HEAD_NOSCRIPT, M_IN_BODY,
       M_IN_TABLE, M_IN_TABLE_TEXT, M_IN_ROW, M_IN_CELL, M_IN_TABLE_BODY,
       M_IN_CAPTION, M_IN_SELECT, M_IN_SELECT_IN_TABLE, M_IN_TEMPLATE,
       M_TEXT, M_AFTER_BODY, M_AFTER_AFTER_BODY };
enum { A_NONE = -1, A_BREAK = 0, A_CHECK, A_REPROCESS, A_STOP };
enum { DM_NO_QUIRKS, DM_LIMITED_QUIRKS, DM_QUIRKS };

enum { N_DOCUMENT, N_DOCTYPE, N_ELEMENT, N_TEXT, N_COMMENT };
enum { NS_HTML, NS_SVG, NS_MATHML };   /* tree.NS_* */

/* what the builder asks of a foreign element (foreign.py), fixed when
   it is made: its name and attributes never change afterwards */
#define FK_TEXT_IP  1   /* is_mathml_text_integration_point (MathML) */
#define FK_HTML_IP  2   /* is_html_integration_point */
#define FK_SPECIAL  4   /* is_special_element_ns == is_scoping_element_ns */

typedef struct FNode {
    struct FNode *parent, *first, *last, *prev, *next;
    PyObject *name;     /* ELEMENT: tag name (borrowed) */
    PyObject *data;     /* TEXT: character data (borrowed) */
    PyObject *attrs;    /* ELEMENT: attr list (borrowed), NULL == [] */
    short tag;
    unsigned char type;
    unsigned char in_stack;   /* Node.in_stack */
    unsigned char ns;         /* Node.ns */
    unsigned char fk;         /* FK_* of a foreign element */
} FNode;

#define ARENA_BLOCK 512
typedef struct ArenaBlock {
    struct ArenaBlock *next;
    int used;
    FNode nodes[ARENA_BLOCK];
} ArenaBlock;

/* active formatting entry: marker <=> el == NULL */
typedef struct { FNode *el; short tag; PyObject *name; } FmtEntry;

/* the token being dispatched (a TokRec view, or EOF) */
typedef struct {
    int type;
    short tag;
    PyObject *name, *data, *attrs;
    int self_closing;
    TokRec *rec;
} FTok;

typedef struct TB {
    jmp_buf fail;            /* out of memory / python error / bail */
    const char *bail;        /* tree-* reason on a bail longjmp */
    Scan sc;                 /* the scan feeding this build */
    int scan_rc;             /* 1 after a scanner bail */
    int (*dispatch)(struct TB *, FTok *);
    Py_ssize_t fed;          /* records dispatched so far */
    int stopped;             /* the drive loop stopped (A_STOP) */
    ArenaBlock *arena;
    PyObject **owned;        /* joined table-text strings */
    Py_ssize_t n_owned, cap_owned;
    PyObject **errs;         /* borrowed error texts, in order */
    Py_ssize_t n_errs, cap_errs;
    PyObject **tt;           /* pending table text (borrowed) */
    Py_ssize_t n_tt, cap_tt;
    int tt_non_ws;
    FNode *doc, *html, *head, *body, *form_ptr, *context;
    FNode *st[FB_STACK_MAX];
    int nst;
    FmtEntry fmt[FB_FMT_MAX];
    int nfmt;
    unsigned char tmodes[FB_TMODE_MAX];
    int ntm;
    int mode, original_mode, dmode, seen_template;
    int tz_state;            /* FastFeed.state: last pulled record's */
    PyObject *doc_mode_fn;   /* treebuilder.determine_doc_mode */
} TB;

static void
tb_fail(TB *tb, const char *bail)
{
    tb->bail = bail;
    longjmp(tb->fail, 1);
}

static void *
tb_grow(TB *tb, void *p, Py_ssize_t *cap, Py_ssize_t need, size_t elt)
{
    if (need <= *cap) return p;
    Py_ssize_t nc = *cap ? *cap * 2 : 64;
    while (nc < need) nc *= 2;
    void *np = PyMem_Realloc(p, nc * elt);
    if (!np) { PyErr_NoMemory(); tb_fail(tb, NULL); }
    *cap = nc;
    return np;
}

static void
tb_err(TB *tb, int e)
{
    tb->errs = tb_grow(tb, tb->errs, &tb->cap_errs, tb->n_errs + 1,
                       sizeof(PyObject *));
    tb->errs[tb->n_errs++] = ERR_OBJ[e];
}

static FNode *
new_node(TB *tb, int type)
{
    ArenaBlock *b = tb->arena;
    if (!b || b->used == ARENA_BLOCK) {
        b = PyMem_Malloc(sizeof(ArenaBlock));
        if (!b) { PyErr_NoMemory(); tb_fail(tb, NULL); }
        b->next = tb->arena;
        b->used = 0;
        tb->arena = b;
    }
    FNode *n = &b->nodes[b->used++];
    memset(n, 0, sizeof(*n));
    n->type = (unsigned char)type;
    return n;
}

static FNode *
new_element(TB *tb, short tag, PyObject *name, PyObject *attrs)
{
    FNode *n = new_node(tb, N_ELEMENT);
    n->tag = tag;
    n->name = name ? name : TAG_NAME[tag];
    n->attrs = attrs;
    return n;
}

static FNode *
new_text(TB *tb, PyObject *data)
{
    FNode *n = new_node(tb, N_TEXT);
    n->data = data;
    return n;
}

/* -- tree mutation (Node.append_child / insert_before / remove_child /
      reparent_children_to / clone_shallow) -- */

static void
append_child(TB *tb, FNode *p, FNode *c)
{
    if (c->parent)   /* a node in two child lists cannot be mirrored */
        tb_fail(tb, "tree-internal");
    c->parent = p;
    c->next = NULL;
    c->prev = p->last;
    if (p->last) p->last->next = c; else p->first = c;
    p->last = c;
}

static void
insert_before(TB *tb, FNode *p, FNode *c, FNode *ref)
{
    if (!ref || ref->parent != p) { append_child(tb, p, c); return; }
    if (c->parent) tb_fail(tb, "tree-internal");
    c->parent = p;
    c->next = ref;
    c->prev = ref->prev;
    if (ref->prev) ref->prev->next = c; else p->first = c;
    ref->prev = c;
}

static void
remove_child(FNode *p, FNode *c)
{
    if (c->parent != p) return;
    if (c->prev) c->prev->next = c->next; else p->first = c->next;
    if (c->next) c->next->prev = c->prev; else p->last = c->prev;
    c->parent = c->prev = c->next = NULL;
}

static void
reparent_children(FNode *src, FNode *dst)
{
    if (!src->first) return;
    for (FNode *c = src->first; c; c = c->next) c->parent = dst;
    src->first->prev = dst->last;
    if (dst->last) dst->last->next = src->first; else dst->first = src->first;
    dst->last = src->last;
    src->first = src->last = NULL;
}

static FNode *
clone_shallow(TB *tb, FNode *n)
{
    FNode *c = new_element(tb, n->tag, n->name, n->attrs);
    c->ns = n->ns;
    c->fk = n->fk;
    return c;
}

/* -- names -- */

static short
tag_of(PyObject *name)
{
    PyObject *v = PyDict_GetItemWithError(TAG_IDS, name);
    if (!v) return TAG_OTHER;   /* an error here is impossible for str */
    return (short)PyLong_AsLong(v);
}

/* `n.name == name` for an element n */
static int
name_is(FNode *n, short tag, PyObject *name)
{
    if (n->type != N_ELEMENT) return 0;
    if (tag != TAG_OTHER) return n->tag == tag;
    if (n->tag != TAG_OTHER) return 0;
    return n->name == name || PyUnicode_Compare(n->name, name) == 0;
}

#define IS(n, t) ((n)->type == N_ELEMENT && (n)->tag == (t))

static int
is_ws_only(PyObject *s)
{
    Py_ssize_t n = PyUnicode_GET_LENGTH(s);
    int kind = PyUnicode_KIND(s);
    const void *d = PyUnicode_DATA(s);
    for (Py_ssize_t i = 0; i < n; i++)
        if (!is_ws(PyUnicode_READ(kind, d, i))) return 0;
    return 1;
}

/* ascii_lower(s) == lit, lit ASCII-lower */
static int
ascii_lower_eq(PyObject *s, const char *lit)
{
    Py_ssize_t n = PyUnicode_GET_LENGTH(s);
    if ((size_t)n != strlen(lit)) return 0;
    for (Py_ssize_t i = 0; i < n; i++) {
        Py_UCS4 c = PyUnicode_READ_CHAR(s, i);
        if (c >= 'A' && c <= 'Z') c += 32;
        if (c != (Py_UCS4)(unsigned char)lit[i]) return 0;
    }
    return 1;
}

/* `a.attrs == b.attrs` (order-sensitive list compare, attrs_equal) */
static int
attrs_equal(TB *tb, PyObject *a, PyObject *b)
{
    if (a == b) return 1;
    Py_ssize_t na = a ? PyList_GET_SIZE(a) : 0;
    Py_ssize_t nb = b ? PyList_GET_SIZE(b) : 0;
    if (na != nb) return 0;
    if (na == 0) return 1;
    int eq = PyObject_RichCompareBool(a, b, Py_EQ);
    if (eq < 0) tb_fail(tb, NULL);
    return eq;
}

/* ascii_lower(a) == ascii_lower(b) */
static int
ascii_ieq(PyObject *a, PyObject *b)
{
    if (a == b) return 1;
    Py_ssize_t n = PyUnicode_GET_LENGTH(a);
    if (n != PyUnicode_GET_LENGTH(b)) return 0;
    for (Py_ssize_t i = 0; i < n; i++) {
        Py_UCS4 x = PyUnicode_READ_CHAR(a, i), y = PyUnicode_READ_CHAR(b, i);
        if (x >= 'A' && x <= 'Z') x += 32;
        if (y >= 'A' && y <= 'Z') y += 32;
        if (x != y) return 0;
    }
    return 1;
}

/* -- foreign content (foreign.py) -- */

/* the attribute test of is_html_integration_point for annotation-xml */
static int
annotation_is_html(PyObject *attrs)
{
    Py_ssize_t m = attrs ? PyList_GET_SIZE(attrs) : 0;
    for (Py_ssize_t k = 0; k < m; k++) {
        PyObject *pair = PyList_GET_ITEM(attrs, k);
        PyObject *v = PyTuple_GET_ITEM(pair, 1);
        if (PyUnicode_Compare(PyTuple_GET_ITEM(pair, 0), KEY_ENCODING) == 0
                && PyUnicode_Check(v)
                && (ascii_lower_eq(v, "text/html")
                    || ascii_lower_eq(v, "application/xhtml+xml")))
            return 1;
    }
    return 0;
}

static int
name_eq(PyObject *a, PyObject *b)
{
    return a == b || PyUnicode_Compare(a, b) == 0;
}

/* FK_* of foreign element n */
static unsigned char
foreign_kind(FNode *n)
{
    if (n->ns == NS_MATHML) {
        switch (n->tag) {
        case TAG_mi: case TAG_mo: case TAG_mn: case TAG_ms: case TAG_mtext:
            return FK_TEXT_IP | FK_SPECIAL;
        case TAG_OTHER:
            if (name_eq(n->name, NAME_ANNOTATION_XML))
                return FK_SPECIAL
                    | (annotation_is_html(n->attrs) ? FK_HTML_IP : 0);
            return 0;
        default:
            return 0;
        }
    }
    if (n->tag == TAG_desc || n->tag == TAG_title
            || (n->tag == TAG_OTHER && name_eq(n->name, NAME_FOREIGN_OBJECT)))
        return FK_HTML_IP | FK_SPECIAL;
    return 0;
}

/* the element for start tag t in namespace ns: SVG names adjusted
   (svg_adjust_element_name), attributes as the token has them (see
   SVG_NAME_PAIRS) */
static FNode *
new_foreign(TB *tb, FTok *t, int ns)
{
    PyObject *name = t->name;
    short tag = t->tag;
    if (ns == NS_SVG) {
        PyObject *adj = PyDict_GetItemWithError(SVG_NAMES, name);
        if (adj) {
            name = adj;
            tag = tag_of(adj);
        } else if (PyErr_Occurred()) {
            tb_fail(tb, NULL);
        }
    }
    FNode *n = new_element(tb, tag, name, t->attrs);
    n->ns = (unsigned char)ns;
    n->fk = foreign_kind(n);
    return n;
}

/* is_special_element_ns */
static int
is_special(FNode *n)
{
    return n->ns == NS_HTML ? HAS(n->tag, F_SPECIAL)
                            : (n->fk & FK_SPECIAL) != 0;
}

/* font_has_breakout_attr */
static int
font_breakout(PyObject *attrs)
{
    Py_ssize_t m = attrs ? PyList_GET_SIZE(attrs) : 0;
    for (Py_ssize_t k = 0; k < m; k++) {
        PyObject *a = PyTuple_GET_ITEM(PyList_GET_ITEM(attrs, k), 0);
        if (PyUnicode_CompareWithASCIIString(a, "color") == 0
                || PyUnicode_CompareWithASCIIString(a, "face") == 0
                || PyUnicode_CompareWithASCIIString(a, "size") == 0)
            return 1;
    }
    return 0;
}

/* -- stack helpers -- */

static void
tb_push(TB *tb, FNode *n)
{
    if (tb->nst < FB_STACK_MAX) {
        tb->st[tb->nst++] = n;
        n->in_stack = 1;
        if (n->tag == TAG_template) tb->seen_template = 1;
    }
}

static FNode *
tb_top(TB *tb)
{
    return tb->nst ? tb->st[tb->nst - 1] : NULL;
}

static FNode *
tb_current(TB *tb)
{
    return tb->nst ? tb->st[tb->nst - 1] : tb->doc;
}

static FNode *
tb_pop(TB *tb)
{
    FNode *n = tb->st[--tb->nst];
    n->in_stack = 0;
    return n;
}

static void
stack_remove_at(TB *tb, int i)
{
    tb->st[i]->in_stack = 0;
    memmove(&tb->st[i], &tb->st[i + 1],
            (size_t)(tb->nst - i - 1) * sizeof(FNode *));
    tb->nst--;
}

static int
stack_index(TB *tb, FNode *n)
{
    for (int i = 0; i < tb->nst; i++)
        if (tb->st[i] == n) return i;
    return -1;
}

static void
pop_until(TB *tb, short tag, PyObject *name)
{
    while (tb->nst)
        if (name_is(tb_pop(tb), tag, name)) return;
}

static void
pop_until_any(TB *tb, short a, short b)
{
    while (tb->nst) {
        FNode *n = tb_pop(tb);
        if (IS(n, a) || IS(n, b)) return;
    }
}

static int
has_open(TB *tb, short tag, PyObject *name)
{
    for (int i = tb->nst - 1; i >= 0; i--)
        if (name_is(tb->st[i], tag, name)) return 1;
    return 0;
}

static int
has_open_table_section(TB *tb)
{
    return has_open(tb, TAG_thead, NULL) || has_open(tb, TAG_tbody, NULL)
        || has_open(tb, TAG_tfoot, NULL);
}

static int
has_open_flag(TB *tb, unsigned f)
{
    for (int i = tb->nst - 1; i >= 0; i--)
        if (HAS(tb->st[i]->tag, f)) return 1;
    return 0;
}

static void
pop_until_heading(TB *tb)
{
    while (tb->nst)
        if (HAS(tb_pop(tb)->tag, F_HEADING)) return;
}

static int
in_template_context(TB *tb)
{
    return tb->seen_template && has_open(tb, TAG_template, NULL);
}

/* _in_scope / _in_list_item_scope / _in_button_scope /
   _in_table_scope: the name matches on an HTML element only; a foreign
   element in its namespace's scoping set stops the walk; the `scoping`
   set is tested by name, except that _in_scope tests it (as
   HTML_SCOPING) on HTML elements only */
static int
in_scope_flag(TB *tb, short tag, PyObject *name, unsigned scoping)
{
    for (int i = tb->nst - 1; i >= 0; i--) {
        FNode *n = tb->st[i];
        if (n->ns == NS_HTML) {
            if (name_is(n, tag, name)) return 1;
        } else if (n->fk & FK_SPECIAL) {
            return 0;
        } else if (scoping == F_SCOPING) {
            continue;
        }
        if (HAS(n->tag, scoping)) return 0;
    }
    return 0;
}

#define in_scope(tb, t, nm) in_scope_flag((tb), (t), (nm), F_SCOPING)
#define in_li_scope(tb, t) in_scope_flag((tb), (t), NULL, F_LI_SCOPING)
#define in_button_scope(tb, t) in_scope_flag((tb), (t), NULL, F_BTN_SCOPING)
#define in_table_scope(tb, t, nm) in_scope_flag((tb), (t), (nm), F_TBL_SCOPING)

static int
in_select_scope(TB *tb, short tag)
{
    for (int i = tb->nst - 1; i >= 0; i--) {
        FNode *n = tb->st[i];
        if (IS(n, tag)) return 1;
        if (!IS(n, TAG_optgroup) && !IS(n, TAG_option)) return 0;
    }
    return 0;
}

/* _generate_implied_end_tags(except_name); except_tag < 0 == None */
static void
gen_implied(TB *tb, int except_tag)
{
    while (tb->nst) {
        FNode *top = tb->st[tb->nst - 1];
        if (!HAS(top->tag, F_IMPLIED)) break;
        if (except_tag >= 0 && top->tag == except_tag) break;
        tb_pop(tb);
    }
}

static void
gen_implied_thoroughly(TB *tb)
{
    while (tb->nst && HAS(tb->st[tb->nst - 1]->tag, F_IMPLIED_ALL))
        tb_pop(tb);
}

/* -- active formatting list -- */

static void
fmt_remove(TB *tb, int i)
{
    memmove(&tb->fmt[i], &tb->fmt[i + 1],
            (size_t)(tb->nfmt - i - 1) * sizeof(FmtEntry));
    tb->nfmt--;
}

static int
fmt_entry_is(FmtEntry *e, short tag, PyObject *name)
{
    if (!e->el) return 0;   /* marker */
    if (tag != TAG_OTHER) return e->tag == tag;
    return e->tag == TAG_OTHER
        && (e->name == name || PyUnicode_Compare(e->name, name) == 0);
}

static void
fmt_push(TB *tb, short tag, PyObject *name, FNode *el)
{
    int count_same = 0, earliest = 0;
    for (int i = 0; i < tb->nfmt; i++) {
        FmtEntry *e = &tb->fmt[i];
        if (fmt_entry_is(e, tag, name)
                && attrs_equal(tb, e->el->attrs, el->attrs)) {
            if (count_same == 0) earliest = i;
            if (++count_same >= 3) {
                fmt_remove(tb, earliest);
                break;
            }
        }
    }
    if (tb->nfmt < FB_FMT_MAX) {
        FmtEntry e = {el, tag, name};
        tb->fmt[tb->nfmt++] = e;
    }
}

static void
fmt_push_marker(TB *tb)
{
    if (tb->nfmt < FB_FMT_MAX) {
        FmtEntry e = {NULL, TAG_OTHER, NULL};
        tb->fmt[tb->nfmt++] = e;
    }
}

static void
fmt_clear_to_marker(TB *tb)
{
    while (tb->nfmt)
        if (tb->fmt[--tb->nfmt].el == NULL) return;
}

static int
fmt_find_last(TB *tb, short tag, PyObject *name)
{
    for (int i = tb->nfmt - 1; i >= 0; i--) {
        if (!tb->fmt[i].el) return -1;
        if (fmt_entry_is(&tb->fmt[i], tag, name)) return i;
    }
    return -1;
}

static int
fmt_index_of(TB *tb, FNode *el)
{
    for (int i = 0; i < tb->nfmt; i++)
        if (tb->fmt[i].el == el) return i;
    return -1;
}

/* _reconstruct_formatting */
static void
reconstruct(TB *tb, FNode *parent)
{
    if (!tb->nfmt) return;
    FmtEntry *last = &tb->fmt[tb->nfmt - 1];
    if (!last->el || last->el->in_stack) return;
    int first = 0;
    for (int i = tb->nfmt - 1; i > 0; i--) {
        FmtEntry *e = &tb->fmt[i - 1];
        if (!e->el || e->el->in_stack) { first = i; break; }
    }
    for (int i = first; i < tb->nfmt; i++) {
        if (!tb->fmt[i].el) continue;
        FNode *n = clone_shallow(tb, tb->fmt[i].el);
        append_child(tb, parent, n);
        tb_push(tb, n);
        tb->fmt[i].el = n;
        parent = n;
    }
}

/* -- foster parenting -- */

static void
foster_parent(TB *tb, FNode **parent, FNode **table)
{
    *table = NULL;
    for (int i = tb->nst - 1; i >= 0; i--)
        if (IS(tb->st[i], TAG_table)) { *table = tb->st[i]; break; }
    if (*table && (*table)->parent) *parent = (*table)->parent;
    else *parent = tb_current(tb);
}

/* insert `child` at the foster position (or as _foster_insert) */
static void
foster_place(TB *tb, FNode *parent, FNode *table, FNode *child)
{
    if (table && parent == table->parent)
        insert_before(tb, parent, child, table);
    else
        append_child(tb, parent, child);
}

static void
foster_insert(TB *tb, FNode *child)
{
    FNode *parent, *table;
    foster_parent(tb, &parent, &table);
    foster_place(tb, parent, table, child);
}

/* _reset_insertion_mode */
static int
reset_insertion_mode(TB *tb)
{
    if (!tb->nst) return M_IN_BODY;
    int has_table = has_open_flag(tb, F_TABLE_EL);
    for (int i = tb->nst - 1; i >= 0; i--) {
        switch (tb->st[i]->tag) {
        case TAG_select:
            return has_table ? M_IN_SELECT_IN_TABLE : M_IN_SELECT;
        case TAG_td: case TAG_th: return M_IN_CELL;
        case TAG_tr: return M_IN_ROW;
        case TAG_tbody: case TAG_thead: case TAG_tfoot:
            return M_IN_TABLE_BODY;
        case TAG_caption: return M_IN_CAPTION;
        case TAG_table: return M_IN_TABLE;
        case TAG_head: return M_IN_HEAD;
        case TAG_body: case TAG_html: return M_IN_BODY;
        default: break;
        }
    }
    return M_IN_BODY;
}

/* -- template machinery -- */

static FNode *
create_template(TB *tb, PyObject *attrs)
{
    FNode *tmpl = new_element(tb, TAG_template, NULL, attrs);
    append_child(tb, tmpl, new_element(tb, TAG_content, NULL, NULL));
    return tmpl;
}

static void
open_template(TB *tb, FNode *tmpl, int self_closing)
{
    if (self_closing) return;
    tb_push(tb, tmpl);
    if (tmpl->first) tb_push(tb, tmpl->first);
    fmt_push_marker(tb);
    if (tb->ntm < FB_TMODE_MAX) tb->tmodes[tb->ntm++] = M_IN_TEMPLATE;
    tb->mode = M_IN_TEMPLATE;
}

static void
close_template(TB *tb)
{
    gen_implied_thoroughly(tb);
    FNode *top = tb_top(tb);
    if (!top || !IS(top, TAG_template)) tb_err(tb, E_BEFORE_TEMPLATE);
    pop_until(tb, TAG_template, NULL);
    fmt_clear_to_marker(tb);
    if (tb->ntm) tb->ntm--;
    tb->mode = reset_insertion_mode(tb);
}

static void
template_mode_replace(TB *tb, int mode)
{
    if (tb->ntm) tb->ntm--;
    if (tb->ntm < FB_TMODE_MAX) tb->tmodes[tb->ntm++] = (unsigned char)mode;
}

/* -- misc -- */

static FNode *
ensure_html(TB *tb)
{
    if (!tb->html) {
        tb->html = new_element(tb, TAG_html, NULL, NULL);
        append_child(tb, tb->doc, tb->html);
        tb_push(tb, tb->html);
    }
    return tb->html;
}

static void
ensure_body(TB *tb)
{
    ensure_html(tb);
    if (tb->body) {
        if (stack_index(tb, tb->body) >= 0) return;
        tb_push(tb, tb->body);
        return;
    }
    tb->body = new_element(tb, TAG_body, NULL, NULL);
    append_child(tb, tb->html, tb->body);
    tb_push(tb, tb->body);
}

static void
close_head(TB *tb)
{
    if (tb->head) {
        pop_until(tb, TAG_head, NULL);
        tb->head = NULL;
    }
    tb->mode = M_IN_BODY;
}

static void
close_cell(TB *tb)
{
    if (!has_open(tb, TAG_td, NULL) && !has_open(tb, TAG_th, NULL)) return;
    pop_until_any(tb, TAG_td, TAG_th);
    fmt_clear_to_marker(tb);
}

/* insert a token element at the current node (the common
   `n = Node(...); _attach; _current().append_child(n)` shape) */
static FNode *
insert_el(TB *tb, FTok *t)
{
    FNode *n = new_element(tb, t->tag, t->name, t->attrs);
    append_child(tb, tb_current(tb), n);
    return n;
}

/* ... then `if not self_closing and name not in _VOID_ELEMENTS: push` */
static FNode *
insert_el_push(TB *tb, FTok *t)
{
    FNode *n = insert_el(tb, t);
    if (!t->self_closing && !HAS(t->tag, F_VOID)) tb_push(tb, n);
    return n;
}

static void
insert_text(TB *tb, FNode *parent, PyObject *data)
{
    append_child(tb, parent, new_text(tb, data));
}

static void
insert_comment(TB *tb, FNode *parent)
{
    append_child(tb, parent, new_node(tb, N_COMMENT));
}

/* -- adoption agency (TreeBuilder.adoption_agency) -- */

static int
adoption_agency(TB *tb, short tag, PyObject *name)
{
    if (!HAS(tag, F_FMT)) return 0;
    FNode *cur = tb_top(tb);
    if (cur && name_is(cur, tag, name) && fmt_index_of(tb, cur) < 0) {
        gen_implied_thoroughly(tb);
        cur = tb_top(tb);
        if (!cur || !name_is(cur, tag, name)) tb_err(tb, E_AAA_MISMATCH);
        if (cur && name_is(cur, tag, name)) tb_pop(tb);
        return 1;
    }
    for (int outer = 0; outer < 8; outer++) {
        int fmt_idx = fmt_find_last(tb, tag, name);
        if (fmt_idx < 0) return 0;
        FNode *fe = tb->fmt[fmt_idx].el;
        int fe_si = -1;
        if (fe && fe->in_stack) {
            for (int i = tb->nst - 1; i >= 0; i--)
                if (tb->st[i] == fe) { fe_si = i; break; }
        }
        if (fe_si < 0) { fmt_remove(tb, fmt_idx); return 1; }
        if (!in_scope(tb, tag, name)) { tb_err(tb, E_AAA_SCOPE); return 1; }

        FNode *fb = NULL;
        for (int i = fe_si + 1; i < tb->nst; i++)
            if (is_special(tb->st[i])) { fb = tb->st[i]; break; }
        if (!fb) {
            while (tb->nst)
                if (tb_pop(tb) == fe) break;
            fmt_remove(tb, fmt_idx);
            return 1;
        }

        FNode *ca = fe_si > 0 ? tb->st[fe_si - 1] : tb->doc;
        int bookmark = fmt_idx;
        FNode *inner = fb, *last = fb;
        for (int k = 1; k < 9; k++) {
            int node_si = stack_index(tb, inner);
            if (node_si <= 0) break;
            inner = tb->st[node_si - 1];
            if (inner == fe) break;
            int node_fi = fmt_index_of(tb, inner);
            if (k > 3 && node_fi >= 0) {
                fmt_remove(tb, node_fi);
                if (node_fi < bookmark) bookmark--;
                node_fi = -1;
            }
            if (node_fi < 0) {
                stack_remove_at(tb, node_si - 1);
                continue;
            }
            FNode *rep = clone_shallow(tb, inner);
            tb->fmt[node_fi].el = rep;
            int si = stack_index(tb, inner);
            if (si >= 0) {
                inner->in_stack = 0;
                rep->in_stack = 1;
                tb->st[si] = rep;
            }
            reparent_children(inner, rep);
            if (inner->parent) {
                FNode *p = inner->parent;
                insert_before(tb, p, rep, inner);
                remove_child(p, inner);
            }
            inner = rep;
            if (last == fb) bookmark = node_fi + 1;
            if (last->parent) remove_child(last->parent, last);
            append_child(tb, inner, last);
            last = inner;
        }
        if (last->parent) remove_child(last->parent, last);
        if (ca->type == N_ELEMENT && HAS(ca->tag, F_FOSTER))
            foster_insert(tb, last);
        else
            append_child(tb, ca, last);

        FNode *ne = clone_shallow(tb, fe);
        reparent_children(fb, ne);
        append_child(tb, fb, ne);

        fmt_idx = fmt_index_of(tb, fe);
        if (fmt_idx >= 0) {
            fmt_remove(tb, fmt_idx);
            if (fmt_idx < bookmark && bookmark > 0) bookmark--;
        }
        if (bookmark > tb->nfmt) bookmark = tb->nfmt;
        if (tb->nfmt < FB_FMT_MAX) {
            memmove(&tb->fmt[bookmark + 1], &tb->fmt[bookmark],
                    (size_t)(tb->nfmt - bookmark) * sizeof(FmtEntry));
            FmtEntry e = {ne, tag, name};
            tb->fmt[bookmark] = e;
            tb->nfmt++;
        }

        int fe_si2 = stack_index(tb, fe);
        if (fe_si2 >= 0) stack_remove_at(tb, fe_si2);
        int fb_si = stack_index(tb, fb);
        if (fb_si >= 0 && tb->nst < FB_STACK_MAX) {
            memmove(&tb->st[fb_si + 2], &tb->st[fb_si + 1],
                    (size_t)(tb->nst - fb_si - 1) * sizeof(FNode *));
            tb->st[fb_si + 1] = ne;
            tb->nst++;
            ne->in_stack = 1;
        }
    }
    return 1;
}

/* -- IN_TEMPLATE (TreeBuilder._handle_in_template); returns the action
      or A_NONE for "not handled" -- */

static int
handle_in_template(TB *tb, FTok *t)
{
    switch (t->type) {
    case T_CHAR:
        if (t->data && PyUnicode_GET_LENGTH(t->data)) {
            if (is_ws_only(t->data)) return A_BREAK;
            template_mode_replace(tb, M_IN_BODY);
            tb->mode = M_IN_BODY;
            return A_REPROCESS;
        }
        return A_BREAK;
    case T_COMMENT:
        insert_comment(tb, tb_current(tb));
        return A_BREAK;
    case T_DOCTYPE:
        tb_err(tb, E_STRAY_DOCTYPE);
        return A_BREAK;
    case T_END:
        if (t->tag == TAG_template && has_open(tb, TAG_template, NULL))
            close_template(tb);
        return A_BREAK;
    case T_START: {
        int mode = M_IN_BODY;
        if (HAS(t->tag, F_TMPL_HEAD)) {
            if (t->tag == TAG_template) {
                FNode *tmpl = create_template(tb, t->attrs);
                append_child(tb, tb_current(tb), tmpl);
                open_template(tb, tmpl, t->self_closing);
            } else {
                insert_el_push(tb, t);
            }
            return A_BREAK;
        }
        switch (t->tag) {
        case TAG_caption: case TAG_colgroup: case TAG_tbody:
        case TAG_tfoot: case TAG_thead: case TAG_table: case TAG_col:
            mode = M_IN_TABLE; break;
        case TAG_tr: mode = M_IN_TABLE_BODY; break;
        case TAG_td: case TAG_th: mode = M_IN_ROW; break;
        case TAG_select: mode = M_IN_SELECT; break;
        default: break;
        }
        template_mode_replace(tb, mode);
        tb->mode = mode;
        return A_REPROCESS;
    }
    case T_EOF:
        if (!has_open(tb, TAG_template, NULL)) return A_NONE;
        tb_err(tb, E_EOF_TEMPLATE);
        close_template(tb);
        return A_REPROCESS;
    }
    return A_NONE;
}

/* -- body_autoclose_on_start (TreeBuilder._body_autoclose) -- */

static void
body_autoclose(TB *tb, short tag)
{
    if ((tag == TAG_p || HAS(tag, F_BLOCK_LIKE))
            && in_button_scope(tb, TAG_p)) {
        gen_implied(tb, TAG_p);
        pop_until(tb, TAG_p, NULL);
    }
    if (tag == TAG_li && in_li_scope(tb, TAG_li)) {
        gen_implied(tb, TAG_li);
        pop_until(tb, TAG_li, NULL);
    }
    if (tag == TAG_dt || tag == TAG_dd) {
        if (in_scope(tb, TAG_dd, NULL)) {
            gen_implied(tb, TAG_dd);
            pop_until(tb, TAG_dd, NULL);
        }
        if (in_scope(tb, TAG_dt, NULL)) {
            gen_implied(tb, TAG_dt);
            pop_until(tb, TAG_dt, NULL);
        }
    }
    if (HAS(tag, F_SECTION) && has_open_table_section(tb)) {
        pop_until(tb, TAG_thead, NULL);
        pop_until(tb, TAG_tbody, NULL);
        pop_until(tb, TAG_tfoot, NULL);
    }
    if (tag == TAG_tr && has_open(tb, TAG_tr, NULL))
        pop_until(tb, TAG_tr, NULL);
    if (HAS(tag, F_CELL)
            && (has_open(tb, TAG_td, NULL) || has_open(tb, TAG_th, NULL)))
        pop_until_any(tb, TAG_td, TAG_th);
}

/* the shared tail of both in-body dispatchers: generic insert, push,
   formatting push */
static void
insert_generic_fmt(TB *tb, FTok *t, int is_fmt)
{
    FNode *n = insert_el(tb, t);
    if (!t->self_closing && !HAS(t->tag, F_VOID)) {
        tb_push(tb, n);
        if (is_fmt) fmt_push(tb, t->tag, t->name, n);
    }
}

/* handle_in_body_start, DOCUMENT variant
   (TreeBuilder._in_body_start_document; its generic fast path is the
   same code as the tail below) */
static void
in_body_start_document(TB *tb, FTok *t)
{
    short tag = t->tag;
    int in_template = in_template_context(tb);
    int is_fmt = HAS(tag, F_FMT);
    if (is_fmt) reconstruct(tb, tb_current(tb));
    if (tag == TAG_html) {
        tb_err(tb, E_START_TAG);
        return;   /* attribute merge: no effect on extraction */
    }
    if (HAS(tag, F_HEADING) && has_open_flag(tb, F_HEADING)) {
        tb_err(tb, E_START_TAG);
        pop_until_heading(tb);
    }
    switch (tag) {
    case TAG_body:
        tb_err(tb, E_START_TAG);
        if (!in_template) ensure_body(tb);
        return;
    case TAG_select:
        if (!in_template) ensure_body(tb);
        tb_push(tb, insert_el(tb, t));
        tb->mode = M_IN_SELECT;
        return;
    case TAG_table:
        if (tb->dmode != DM_QUIRKS && in_button_scope(tb, TAG_p))
            pop_until(tb, TAG_p, NULL);
        if (!in_template) ensure_body(tb);
        tb_push(tb, insert_el(tb, t));
        tb->mode = M_IN_TABLE;
        return;
    case TAG_svg: case TAG_math: {
        reconstruct(tb, tb_current(tb));
        if (!in_template) ensure_body(tb);
        FNode *n = new_foreign(tb, t, tag == TAG_svg ? NS_SVG : NS_MATHML);
        append_child(tb, tb_current(tb), n);
        if (!t->self_closing) tb_push(tb, n);
        return;
    }
    case TAG_applet: case TAG_marquee: case TAG_object: {
        if (!in_template) ensure_body(tb);
        FNode *n = insert_el(tb, t);
        fmt_push_marker(tb);
        if (!t->self_closing) tb_push(tb, n);
        return;
    }
    case TAG_template: {
        if (!in_template) ensure_body(tb);
        FNode *tmpl = create_template(tb, t->attrs);
        append_child(tb, tb_current(tb), tmpl);
        open_template(tb, tmpl, t->self_closing);
        return;
    }
    case TAG_form: {
        if (tb->form_ptr && !in_template) {
            tb_err(tb, E_START_TAG);
            return;
        }
        if (in_button_scope(tb, TAG_p)) pop_until(tb, TAG_p, NULL);
        if (!in_template) ensure_body(tb);
        FNode *n = insert_el(tb, t);
        if (!in_template) tb->form_ptr = n;
        if (!t->self_closing) tb_push(tb, n);
        return;
    }
    default:
        break;
    }
    body_autoclose(tb, tag);
    if (!in_template) ensure_body(tb);
    insert_generic_fmt(tb, t, is_fmt);
}

/* handle_in_body_start_fragment (TreeBuilder._in_body_start_fragment) */
static void
in_body_start_fragment(TB *tb, FTok *t)
{
    short tag = t->tag;
    if (HAS(tag, F_BODY_IGNORED)) {
        tb_err(tb, E_START_TAG);
        return;
    }
    if (HAS(tag, F_HEADING) && has_open_flag(tb, F_HEADING)) {
        tb_err(tb, E_START_TAG);
        pop_until_heading(tb);
    }
    switch (tag) {
    case TAG_applet: case TAG_marquee: case TAG_object: {
        FNode *n = insert_el(tb, t);
        fmt_push_marker(tb);
        if (!t->self_closing) tb_push(tb, n);
        return;
    }
    case TAG_table:
        if (in_button_scope(tb, TAG_p)) pop_until(tb, TAG_p, NULL);
        tb_push(tb, insert_el(tb, t));
        tb->mode = M_IN_TABLE;
        return;
    case TAG_select:
        tb_push(tb, insert_el(tb, t));
        tb->mode = M_IN_SELECT;
        return;
    case TAG_svg: case TAG_math: {
        reconstruct(tb, tb_current(tb));
        FNode *n = new_foreign(tb, t, tag == TAG_svg ? NS_SVG : NS_MATHML);
        append_child(tb, tb_current(tb), n);
        if (!t->self_closing) tb_push(tb, n);
        return;
    }
    case TAG_template: {
        FNode *tmpl = create_template(tb, t->attrs);
        append_child(tb, tb_current(tb), tmpl);
        open_template(tb, tmpl, t->self_closing);
        return;
    }
    case TAG_form: {
        if (tb->form_ptr && !in_template_context(tb)) {
            tb_err(tb, E_START_TAG);
            return;
        }
        if (in_button_scope(tb, TAG_p)) pop_until(tb, TAG_p, NULL);
        FNode *n = insert_el(tb, t);
        if (!in_template_context(tb)) tb->form_ptr = n;
        if (!t->self_closing) tb_push(tb, n);
        return;
    }
    default:
        break;
    }
    int is_fmt = HAS(tag, F_FMT);
    if (is_fmt) reconstruct(tb, tb_current(tb));
    body_autoclose(tb, tag);
    insert_generic_fmt(tb, t, is_fmt);
}

/* -- table text flush (the IN_TABLE_TEXT exit and
      _flush_table_text_at_stop) -- */

static PyObject *
table_text_join(TB *tb)
{
    if (tb->n_tt == 1) return tb->tt[0];
    PyObject *parts = PyList_New(tb->n_tt);
    if (!parts) tb_fail(tb, NULL);
    for (Py_ssize_t k = 0; k < tb->n_tt; k++) {
        Py_INCREF(tb->tt[k]);
        PyList_SET_ITEM(parts, k, tb->tt[k]);
    }
    PyObject *empty = PyUnicode_FromStringAndSize("", 0);
    PyObject *s = empty ? PyUnicode_Join(empty, parts) : NULL;
    Py_XDECREF(empty);
    Py_DECREF(parts);
    if (!s) tb_fail(tb, NULL);
    tb->owned = tb_grow(tb, tb->owned, &tb->cap_owned, tb->n_owned + 1,
                        sizeof(PyObject *));
    tb->owned[tb->n_owned++] = s;
    return s;
}

static void
table_text_add(TB *tb, PyObject *data)
{
    tb->tt = tb_grow(tb, tb->tt, &tb->cap_tt, tb->n_tt + 1,
                     sizeof(PyObject *));
    tb->tt[tb->n_tt++] = data;
    if (!is_ws_only(data)) tb->tt_non_ws = 1;
}

/* -- IN_HEAD_NOSCRIPT (TreeBuilder._noscript_mode) -- */

static int
noscript_mode(TB *tb, FTok *t)
{
    switch (t->type) {
    case T_DOCTYPE:
        tb_err(tb, E_NS_DOCTYPE);
        return A_BREAK;
    case T_COMMENT:
        insert_comment(tb, tb_current(tb));
        return A_BREAK;
    case T_CHAR:
        if (t->data && is_ws_only(t->data)) return A_BREAK;
        tb_err(tb, E_NS_CHAR);
        if (tb->nst) tb_pop(tb);
        tb->mode = M_IN_HEAD;
        return A_REPROCESS;
    case T_START:
        if (t->tag == TAG_html) {
            tb_err(tb, E_START_TAG);
            return A_BREAK;
        }
        if (HAS(t->tag, F_NOSCRIPT_EL)) {
            FNode *n = insert_el(tb, t);
            if (!t->self_closing && !HAS(t->tag, F_VOID)
                    && t->tag != TAG_basefont && t->tag != TAG_bgsound)
                tb_push(tb, n);
            if (tb->tz_state == S_RCDATA || tb->tz_state == S_RAWTEXT
                    || tb->tz_state == S_SCRIPT) {
                tb->original_mode = tb->mode;
                tb->mode = M_TEXT;
            }
            return A_BREAK;
        }
        tb_err(tb, E_NS_START);
        if (t->tag == TAG_head || t->tag == TAG_noscript) return A_BREAK;
        if (tb->nst) tb_pop(tb);
        tb->mode = M_IN_HEAD;
        return A_REPROCESS;
    case T_END:
        if (t->tag == TAG_noscript) {
            if (tb->nst) tb_pop(tb);
            tb->mode = M_IN_HEAD;
            return A_BREAK;
        }
        if (t->tag == TAG_br) {
            tb_err(tb, E_NS_BR);
            if (tb->nst) tb_pop(tb);
            tb->mode = M_IN_HEAD;
            return A_REPROCESS;
        }
        tb_err(tb, E_NS_END);
        return A_BREAK;
    case T_EOF:
        tb_err(tb, E_NS_EOF);
        if (tb->nst) tb_pop(tb);
        tb->mode = M_IN_HEAD;
        return A_REPROCESS;
    }
    return A_BREAK;
}

/* -- foreign content (TreeBuilder._process_foreign) with the current
      node `acn` foreign: the action, or A_NONE when the token goes on
      to the insertion mode -- */

static int
process_foreign(TB *tb, FNode *acn, FTok *t)
{
    if ((acn->fk & FK_TEXT_IP)
            && ((t->type == T_START && t->tag != TAG_mglyph
                 && t->tag != TAG_malignmark && t->tag != TAG_svg
                 && t->tag != TAG_math)
                || t->type == T_CHAR))
        return A_NONE;
    if ((acn->fk & FK_HTML_IP) && (t->type == T_START || t->type == T_CHAR))
        return A_NONE;
    switch (t->type) {
    case T_CHAR:
        if (t->data && PyUnicode_GET_LENGTH(t->data))
            insert_text(tb, acn, t->data);
        return A_BREAK;
    case T_COMMENT:
        insert_comment(tb, acn);
        return A_BREAK;
    case T_START: {
        if (HAS(t->tag, F_BREAKOUT)
                || (t->tag == TAG_font && font_breakout(t->attrs))) {
            /* pop to an HTML element or an integration point, then
               the insertion mode takes the tag */
            while (tb->nst) {
                FNode *top = tb->st[tb->nst - 1];
                if (top->ns == NS_HTML || (top->fk & (FK_TEXT_IP | FK_HTML_IP)))
                    break;
                tb_pop(tb);
            }
            return A_REPROCESS;
        }
        FNode *n = new_foreign(tb, t, acn->ns);
        append_child(tb, acn, n);
        if (!t->self_closing) tb_push(tb, n);
        return A_BREAK;
    }
    case T_END:
        /* pop through the nearest open element of that name (SVG names
           compared case-insensitively); an HTML element in between
           hands the tag to the insertion mode */
        for (int i = tb->nst - 1; i >= 0; i--) {
            FNode *e = tb->st[i];
            if (e->ns == NS_SVG ? ascii_ieq(e->name, t->name)
                                : name_is(e, t->tag, t->name)) {
                while (tb->nst > i) tb_pop(tb);
                return A_BREAK;
            }
            if (e->ns == NS_HTML) return A_NONE;
        }
        return A_BREAK;
    default:
        return A_NONE;
    }
}

/* -- shared pre-switch blocks (TreeBuilder._pre_switch) -- */

static int
pre_switch(TB *tb, FTok *t)
{
    FNode *acn = tb_top(tb);
    if (acn && acn->ns != NS_HTML) {
        int act = process_foreign(tb, acn, t);
        if (act != A_NONE) return act;
    }
    int mode = tb->mode;
    if (mode == M_IN_TEMPLATE) {
        int act = handle_in_template(tb, t);
        if (act != A_NONE) return act;
    }
    if (mode == M_IN_TABLE_TEXT) {
        if (t->type == T_CHAR && t->data && PyUnicode_GET_LENGTH(t->data)) {
            table_text_add(tb, t->data);
            return A_BREAK;
        }
        if (tb->n_tt) {
            FNode *text = new_text(tb, table_text_join(tb));
            if (tb->tt_non_ws) {
                tb_err(tb, E_FOSTER);
                foster_insert(tb, text);
            } else {
                append_child(tb, tb_current(tb), text);
            }
        }
        tb->n_tt = 0;
        tb->tt_non_ws = 0;
        tb->mode = M_IN_TABLE;
        return A_REPROCESS;
    }
    if (tb->mode == M_TEXT) {
        if (t->type == T_CHAR) {
            if (t->data && PyUnicode_GET_LENGTH(t->data))
                insert_text(tb, tb_current(tb), t->data);
            return A_BREAK;
        }
        if (t->type == T_END) {
            if (tb->nst) tb_pop(tb);
            tb->mode = tb->original_mode;
            return A_BREAK;
        }
        if (t->type == T_EOF) {
            tb_err(tb, E_EOF_TEXT);
            if (tb->nst) tb_pop(tb);
            tb->mode = tb->original_mode;
            return A_REPROCESS;
        }
        return A_BREAK;
    }
    if (tb->mode == M_IN_HEAD_NOSCRIPT)
        return noscript_mode(tb, t);
    return A_NONE;
}

/* -- EOF in both loops (the modes that do more than stop) -- */

static int
eof_common(TB *tb)
{
    switch (tb->mode) {
    case M_IN_TEMPLATE:
        return A_STOP;
    case M_IN_BODY: case M_IN_CAPTION: case M_IN_CELL: case M_IN_ROW:
    case M_IN_TABLE_BODY:
        if (tb->ntm) { tb->mode = M_IN_TEMPLATE; return A_REPROCESS; }
        for (int i = 0; i < tb->nst; i++) {
            if (!HAS(tb->st[i]->tag, F_EOF_EXPECTED)) {
                tb_err(tb, E_EOF_OPEN);
                break;
            }
        }
        return A_STOP;
    case M_IN_TABLE: case M_IN_SELECT: case M_IN_SELECT_IN_TABLE: {
        if (tb->ntm) { tb->mode = M_IN_TEMPLATE; return A_REPROCESS; }
        FNode *cur = tb_current(tb);
        if (cur->type == N_ELEMENT && !IS(cur, TAG_html))
            tb_err(tb, E_EOF_TABLE);
        return A_STOP;
    }
    default:
        return A_STOP;
    }
}

/* -- select modes, identical in both loops -- */

static int
start_tag_in_select(TB *tb, FTok *t, int document)
{
    short tag = t->tag;
    if (tag == TAG_select) {
        tb_err(tb, E_START_TAG);
        if (!in_select_scope(tb, TAG_select)) return A_CHECK;
        pop_until(tb, TAG_select, NULL);
        tb->mode = reset_insertion_mode(tb);
        return A_CHECK;
    }
    if (tag == TAG_option && has_open(tb, TAG_option, NULL))
        pop_until(tb, TAG_option, NULL);
    if (tag == TAG_optgroup && has_open(tb, TAG_optgroup, NULL)) {
        if (has_open(tb, TAG_option, NULL)) pop_until(tb, TAG_option, NULL);
        pop_until(tb, TAG_optgroup, NULL);
    }
    if (tag == TAG_option || tag == TAG_optgroup) {
        insert_el_push(tb, t);
        return A_CHECK;
    }
    if (document && tb->mode == M_IN_SELECT_IN_TABLE
            && HAS(tag, F_TABLE_EL)) {
        tb_err(tb, E_START_IN_SELECT);
        if (!in_select_scope(tb, TAG_select)) return A_CHECK;
        pop_until(tb, TAG_select, NULL);
        tb->mode = reset_insertion_mode(tb);
        return A_REPROCESS;
    }
    insert_el_push(tb, t);
    return A_CHECK;
}

/* <input type=hidden> in IN_TABLE (both loops) */
static int
is_hidden_input(FTok *t)
{
    if (t->tag != TAG_input || !t->attrs) return 0;
    for (Py_ssize_t k = 0; k < PyList_GET_SIZE(t->attrs); k++) {
        PyObject *pair = PyList_GET_ITEM(t->attrs, k);
        if (PyUnicode_CompareWithASCIIString(PyTuple_GET_ITEM(pair, 0),
                                             "type") == 0)
            return ascii_lower_eq(PyTuple_GET_ITEM(pair, 1), "hidden");
    }
    return 0;
}

/* a cell start tag in IN_TABLE_BODY: implied <tr>, then the cell */
static void
insert_row_and_cell(TB *tb, FTok *t)
{
    FNode *tr = new_element(tb, TAG_tr, NULL, NULL);
    append_child(tb, tb_current(tb), tr);
    tb_push(tb, tr);
    FNode *cell = new_element(tb, t->tag, t->name, t->attrs);
    append_child(tb, tr, cell);
    tb_push(tb, cell);
    fmt_push_marker(tb);
    tb->mode = M_IN_CELL;
}

/* template start tag at the foster position (both loops) */
static void
foster_template(TB *tb, FTok *t)
{
    FNode *parent, *table;
    foster_parent(tb, &parent, &table);
    FNode *tmpl = create_template(tb, t->attrs);
    foster_place(tb, parent, table, tmpl);
    open_template(tb, tmpl, t->self_closing);
}

/* ================= document loop (TreeBuilder._dispatch_document) === */

/* TreeBuilder._foster_start_tag */
static int
foster_start_tag(TB *tb, FTok *t)
{
    if (t->tag == TAG_template) {
        foster_template(tb, t);
        return A_CHECK;
    }
    int is_fmt = HAS(t->tag, F_FMT);
    FNode *parent, *table;
    foster_parent(tb, &parent, &table);
    if (is_fmt) reconstruct(tb, parent);
    FNode *n = new_element(tb, t->tag, t->name, t->attrs);
    foster_place(tb, parent, table, n);
    if (!t->self_closing && !HAS(t->tag, F_VOID)) {
        tb_push(tb, n);
        if (is_fmt) fmt_push(tb, t->tag, t->name, n);
    }
    return A_CHECK;
}

/* IN_TABLE start tags shared by both loops except <form>, <tr>/cells
   and the foster fallback; returns A_NONE when not handled */
static int
start_tag_in_table_common(TB *tb, FTok *t)
{
    switch (t->tag) {
    case TAG_caption:
        tb_push(tb, insert_el(tb, t));
        fmt_push_marker(tb);
        tb->mode = M_IN_CAPTION;
        return A_CHECK;
    case TAG_colgroup:
        tb_push(tb, insert_el(tb, t));
        return A_CHECK;
    case TAG_col:
        insert_el(tb, t);
        return A_CHECK;
    case TAG_select:
        tb_push(tb, insert_el(tb, t));
        tb->mode = M_IN_SELECT_IN_TABLE;
        return A_CHECK;
    case TAG_tbody: case TAG_thead: case TAG_tfoot:
        tb_push(tb, insert_el(tb, t));
        tb->mode = M_IN_TABLE_BODY;
        return A_CHECK;
    default:
        return A_NONE;
    }
}

/* TreeBuilder._start_tag_in_table_document */
static int
start_tag_in_table_document(TB *tb, FTok *t)
{
    short tag = t->tag;
    if (tag == TAG_form) {
        if (tb->form_ptr && !in_template_context(tb)) {
            tb_err(tb, E_START_TAG);
            return A_CHECK;
        }
        tb_err(tb, E_FOSTER);
        FNode *parent, *table;
        foster_parent(tb, &parent, &table);
        FNode *n = new_element(tb, t->tag, t->name, t->attrs);
        foster_place(tb, parent, table, n);
        if (!in_template_context(tb)) tb->form_ptr = n;
        tb_push(tb, n);
        return A_CHECK;
    }
    int act = start_tag_in_table_common(tb, t);
    if (act != A_NONE) return act;
    if (tag == TAG_tr) {
        /* reference deviation: NO implicit tbody in document mode */
        tb_push(tb, insert_el(tb, t));
        tb->mode = M_IN_ROW;
        return A_CHECK;
    }
    if (HAS(tag, F_CELL)) {
        tb_push(tb, insert_el(tb, t));
        fmt_push_marker(tb);
        tb->mode = M_IN_CELL;
        return A_CHECK;
    }
    if (is_hidden_input(t)) {
        tb_err(tb, E_START_IN_TABLE);
        insert_el(tb, t);
        return A_CHECK;
    }
    if (!HAS(tag, F_TABLE_EL)) return foster_start_tag(tb, t);
    return A_CHECK;
}

/* TreeBuilder._start_tag_document */
static int
start_tag_document(TB *tb, FTok *t)
{
    short tag = t->tag;
    if (tb->mode == M_INITIAL) {
        tb_err(tb, E_NO_DOCTYPE);
        tb->dmode = DM_QUIRKS;
        tb->mode = M_BEFORE_HTML;
    }
    if (tb->mode == M_BEFORE_HTML) {
        if (tag == TAG_html) {
            ensure_html(tb);
            tb->mode = M_IN_HEAD;
            return A_CHECK;
        }
        ensure_html(tb);
        if (tag == TAG_head) {
            tb->head = new_element(tb, TAG_head, t->name, t->attrs);
            append_child(tb, tb->html, tb->head);
            tb_push(tb, tb->head);
            tb->mode = M_IN_HEAD;
            return A_CHECK;
        }
        ensure_body(tb);
        tb->mode = M_IN_BODY;
        return A_REPROCESS;
    }
    if (tb->mode == M_IN_HEAD) {
        if (tag == TAG_head) {
            if (!tb->head) {
                tb->head = new_element(tb, TAG_head, t->name, t->attrs);
                append_child(tb, ensure_html(tb), tb->head);
                tb_push(tb, tb->head);
            } else {
                tb_err(tb, E_START_TAG);
            }
            return A_CHECK;
        }
        if (tag == TAG_body) {
            close_head(tb);
            ensure_body(tb);
            return A_CHECK;
        }
        if (tag == TAG_template) {
            FNode *tmpl = create_template(tb, t->attrs);
            append_child(tb, tb_current(tb), tmpl);
            open_template(tb, tmpl, t->self_closing);
            return A_CHECK;
        }
        if (tag == TAG_noscript) {
            tb_push(tb, insert_el(tb, t));
            tb->mode = M_IN_HEAD_NOSCRIPT;
            return A_CHECK;
        }
        if (!HAS(tag, F_HEAD_EL)) {
            close_head(tb);
            return A_REPROCESS;
        }
    }
    if (tb->mode == M_IN_TABLE || tb->mode == M_IN_TABLE_TEXT
            || tb->mode == M_IN_TABLE_BODY || tb->mode == M_IN_ROW
            || tb->mode == M_IN_CELL) {
        FNode *cur = tb_current(tb);
        if (cur->type == N_ELEMENT && !HAS(cur->tag, F_TABLE_EL)) {
            in_body_start_document(tb, t);
            return A_CHECK;
        }
    }
    switch (tb->mode) {
    case M_IN_BODY:
        in_body_start_document(tb, t);
        return A_CHECK;
    case M_IN_TABLE:
        return start_tag_in_table_document(tb, t);
    case M_IN_HEAD:
        if (tag == TAG_meta)   /* the §13.2.3.5 re-encode handshake */
            tb_fail(tb, "tree-meta");
        insert_el_push(tb, t);
        return A_CHECK;
    case M_IN_TABLE_BODY:
        if (HAS(tag, F_SECTION)) {
            if (has_open_table_section(tb)) {
                pop_until(tb, TAG_thead, NULL);
                pop_until(tb, TAG_tbody, NULL);
                pop_until(tb, TAG_tfoot, NULL);
            }
            tb->mode = M_IN_TABLE;
            return A_REPROCESS;
        }
        if (tag == TAG_tr) {
            tb_push(tb, insert_el(tb, t));
            tb->mode = M_IN_ROW;
            return A_CHECK;
        }
        if (HAS(tag, F_CELL)) {
            insert_row_and_cell(tb, t);
            return A_CHECK;
        }
        if (!HAS(tag, F_TABLE_EL)) return foster_start_tag(tb, t);
        return A_CHECK;
    case M_IN_ROW:
        if (HAS(tag, F_CELL)) {
            tb_push(tb, insert_el(tb, t));
            fmt_push_marker(tb);
            tb->mode = M_IN_CELL;
            return A_CHECK;
        }
        if (HAS(tag, F_SECTION)) {
            if (has_open(tb, TAG_tr, NULL)) pop_until(tb, TAG_tr, NULL);
            tb->mode = M_IN_TABLE_BODY;
            return A_REPROCESS;
        }
        if (!HAS(tag, F_TABLE_EL)) return foster_start_tag(tb, t);
        return A_CHECK;
    case M_IN_CELL:
        if (tag == TAG_select) {
            tb_push(tb, insert_el(tb, t));
            tb->mode = M_IN_SELECT_IN_TABLE;
            return A_CHECK;
        }
        if (HAS(tag, F_CELL)) {
            close_cell(tb);
            tb->mode = M_IN_ROW;
            return A_REPROCESS;
        }
        if (tag == TAG_tr || HAS(tag, F_SECTION)) {
            close_cell(tb);
            tb->mode = M_IN_TABLE_BODY;
            return A_REPROCESS;
        }
        in_body_start_document(tb, t);
        return A_CHECK;
    case M_IN_CAPTION:
        if (tag == TAG_table || tag == TAG_tr || HAS(tag, F_SECTION)) {
            pop_until(tb, TAG_caption, NULL);
            tb->mode = M_IN_TABLE;
            return A_REPROCESS;
        }
        if (tag == TAG_template) {
            FNode *tmpl = create_template(tb, t->attrs);
            append_child(tb, tb_current(tb), tmpl);
            open_template(tb, tmpl, t->self_closing);
            return A_CHECK;
        }
        insert_el_push(tb, t);
        return A_CHECK;
    case M_IN_SELECT: case M_IN_SELECT_IN_TABLE:
        return start_tag_in_select(tb, t, 1);
    default:
        return A_CHECK;
    }
}

/* TreeBuilder._end_tag_form (shared by both loops) */
static int
end_tag_form(TB *tb)
{
    if (!in_template_context(tb)) {
        FNode *node = tb->form_ptr;
        tb->form_ptr = NULL;
        if (!node || !in_scope(tb, TAG_form, NULL)) {
            tb_err(tb, E_END_TAG);
            if (!node) return A_CHECK;
            if (!in_scope(tb, TAG_form, NULL)) return A_CHECK;
        }
        gen_implied(tb, -1);
        int i = stack_index(tb, node);
        if (i >= 0) stack_remove_at(tb, i);
    } else {
        if (!in_scope(tb, TAG_form, NULL)) {
            tb_err(tb, E_END_TAG);
        } else {
            gen_implied(tb, -1);
            pop_until(tb, TAG_form, NULL);
        }
    }
    return A_CHECK;
}

/* </p>, </li>, </dd>, </dt> in IN_BODY (both loops); A_NONE if the
   name is none of them */
static int
end_tag_body_items(TB *tb, FTok *t)
{
    short tag = t->tag;
    if (tag == TAG_p) {
        if (!in_button_scope(tb, TAG_p)) {
            tb_err(tb, E_END_TAG);
            append_child(tb, tb_current(tb),
                         new_element(tb, TAG_p, NULL, NULL));
            return A_CHECK;
        }
        gen_implied(tb, TAG_p);
        pop_until(tb, TAG_p, NULL);
        return A_CHECK;
    }
    if (tag == TAG_li) {
        if (!in_li_scope(tb, TAG_li)) {
            tb_err(tb, E_END_TAG);
            return A_CHECK;
        }
        gen_implied(tb, TAG_li);
        pop_until(tb, TAG_li, NULL);
        return A_CHECK;
    }
    if (tag == TAG_dd || tag == TAG_dt) {
        if (!in_scope(tb, tag, NULL)) {
            tb_err(tb, E_END_TAG);
            return A_CHECK;
        }
        gen_implied(tb, tag);
        pop_until(tb, tag, NULL);
        return A_CHECK;
    }
    return A_NONE;
}

static int
is_aaa_mode(int mode)
{
    return mode == M_IN_BODY || mode == M_IN_CELL || mode == M_IN_TABLE
        || mode == M_IN_TABLE_BODY || mode == M_IN_ROW
        || mode == M_IN_CAPTION;
}

/* the shared end-tag tail: adoption agency, then in-scope pop */
static int
end_tag_tail(TB *tb, FTok *t)
{
    if (is_aaa_mode(tb->mode) && adoption_agency(tb, t->tag, t->name))
        return A_CHECK;
    if (!in_scope(tb, t->tag, t->name)) {
        tb_err(tb, E_END_TAG);
        return A_CHECK;
    }
    pop_until(tb, t->tag, t->name);
    return A_CHECK;
}

/* </select> in the select modes (both loops) */
static int
end_tag_select(TB *tb)
{
    if (!in_select_scope(tb, TAG_select)) {
        tb_err(tb, E_END_TAG);
        return A_CHECK;
    }
    pop_until(tb, TAG_select, NULL);
    tb->mode = reset_insertion_mode(tb);
    return A_CHECK;
}

/* TreeBuilder._end_tag_document */
static int
end_tag_document(TB *tb, FTok *t)
{
    short tag = t->tag;
    int mode = tb->mode;
    if (tag == TAG_template && has_open(tb, TAG_template, NULL)) {
        close_template(tb);
        return A_CHECK;
    }
    if (tag == TAG_head && mode == M_IN_HEAD) {
        close_head(tb);
        return A_CHECK;
    }
    if (tag == TAG_body && mode == M_IN_BODY) {
        gen_implied(tb, -1);
        FNode *cur = tb_top(tb);
        if (!cur || !IS(cur, TAG_body)) tb_err(tb, E_END_UNCLOSED);
        pop_until(tb, TAG_body, NULL);
        tb->mode = M_AFTER_BODY;
        return A_CHECK;
    }
    if (tag == TAG_form && mode == M_IN_BODY)
        return end_tag_form(tb);
    if (mode == M_IN_BODY) {
        int act = end_tag_body_items(tb, t);
        if (act != A_NONE) return act;
    }
    if (tag == TAG_table) {
        if (!in_table_scope(tb, TAG_table, NULL)) return A_CHECK;
        if (mode == M_IN_CELL) fmt_clear_to_marker(tb);
        pop_until(tb, TAG_table, NULL);
        tb->mode = M_IN_BODY;
        return A_CHECK;
    }
    if (tag == TAG_tr && mode == M_IN_ROW
            && in_table_scope(tb, TAG_tr, NULL)) {
        pop_until(tb, TAG_tr, NULL);
        tb->mode = has_open_table_section(tb) ? M_IN_TABLE_BODY : M_IN_TABLE;
        return A_CHECK;
    }
    if (HAS(tag, F_CELL) && mode == M_IN_CELL
            && in_table_scope(tb, tag, NULL)) {
        pop_until(tb, tag, NULL);
        fmt_clear_to_marker(tb);
        tb->mode = M_IN_ROW;
        return A_CHECK;
    }
    if (HAS(tag, F_SECTION) && mode == M_IN_CELL
            && in_table_scope(tb, tag, NULL)) {
        close_cell(tb);
        pop_until(tb, tag, NULL);
        tb->mode = M_IN_TABLE;
        return A_CHECK;
    }
    if (HAS(tag, F_SECTION)
            && (mode == M_IN_TABLE || mode == M_IN_TABLE_BODY)
            && in_table_scope(tb, tag, NULL)) {
        pop_until(tb, tag, NULL);
        tb->mode = M_IN_TABLE;
        return A_CHECK;
    }
    if (tag == TAG_caption && mode == M_IN_CAPTION
            && in_table_scope(tb, TAG_caption, NULL)) {
        pop_until(tb, TAG_caption, NULL);
        fmt_clear_to_marker(tb);
        tb->mode = M_IN_TABLE;
        return A_CHECK;
    }
    if (tag == TAG_select
            && (mode == M_IN_SELECT || mode == M_IN_SELECT_IN_TABLE))
        return end_tag_select(tb);
    if (tag == TAG_applet || tag == TAG_marquee || tag == TAG_object) {
        if (!in_scope(tb, tag, NULL)) return A_CHECK;
        gen_implied(tb, -1);
        pop_until(tb, tag, NULL);
        fmt_clear_to_marker(tb);
        return A_CHECK;
    }
    if (tag == TAG_html) {
        pop_until(tb, TAG_html, NULL);
        if (tb->mode == M_AFTER_BODY) tb->mode = M_AFTER_AFTER_BODY;
        return A_CHECK;
    }
    return end_tag_tail(tb, t);
}

/* TreeBuilder._character_document */
static int
character_document(TB *tb, FTok *t)
{
    PyObject *data = t->data;
    if (!data || !PyUnicode_GET_LENGTH(data)) return A_CHECK;
    if (is_ws_only(data)) {
        if (tb->mode == M_IN_BODY) {
            if (!in_template_context(tb)) ensure_body(tb);
            reconstruct(tb, tb_current(tb));
        }
        return A_CHECK;
    }
    if (tb->mode == M_AFTER_BODY || tb->mode == M_AFTER_AFTER_BODY) {
        tb_err(tb, E_AFTER_BODY);
        tb->mode = M_IN_BODY;
    }
    if (tb->mode == M_IN_HEAD) {
        if (!tb->head) {
            tb->head = new_element(tb, TAG_head, NULL, NULL);
            append_child(tb, ensure_html(tb), tb->head);
            tb_push(tb, tb->head);
        }
        insert_text(tb, tb_current(tb), data);
        return A_CHECK;
    }
    if (tb->mode == M_IN_TABLE) {
        tb->mode = M_IN_TABLE_TEXT;
        table_text_add(tb, data);
        return A_CHECK;
    }
    if (tb->mode == M_IN_TABLE_TEXT || tb->mode == M_IN_TABLE_BODY
            || tb->mode == M_IN_ROW || tb->mode == M_IN_CELL) {
        FNode *cur = tb_current(tb);
        if (tb->mode == M_IN_CELL
                || (cur->type == N_ELEMENT && !HAS(cur->tag, F_TABLE_EL)))
            insert_text(tb, cur, data);
        else
            foster_insert(tb, new_text(tb, data));
        return A_CHECK;
    }
    if (tb->mode == M_INITIAL) {
        tb_err(tb, E_NO_DOCTYPE);
        tb->dmode = DM_QUIRKS;
        tb->mode = M_BEFORE_HTML;
    }
    if (tb->mode == M_BEFORE_HTML) {
        ensure_body(tb);
        tb->mode = M_IN_BODY;
    }
    if (tb->mode == M_IN_BODY) reconstruct(tb, tb_current(tb));
    insert_text(tb, tb_current(tb), data);
    return A_CHECK;
}

/* treebuilder.determine_doc_mode on the DOCTYPE record */
static int
doctype_mode(TB *tb, TokRec *r)
{
    FastToken *t = PyObject_New(FastToken, &FastToken_Type);
    if (!t) tb_fail(tb, NULL);
    t->type = T_DOCTYPE;
    t->name = r->name ? r->name : Py_None;
    t->public_id = r->data ? r->data : Py_None;
    t->system_id = r->attrs ? r->attrs : Py_None;
    t->data = Py_None;
    t->attrs = EMPTY_ATTRS;
    Py_INCREF(t->name); Py_INCREF(t->public_id); Py_INCREF(t->system_id);
    Py_INCREF(t->data); Py_INCREF(t->attrs);
    t->self_closing = 0;
    t->force_quirks = r->force_quirks;
    PyObject *res = PyObject_CallOneArg(tb->doc_mode_fn, (PyObject *)t);
    Py_DECREF(t);
    if (!res) tb_fail(tb, NULL);
    long m = PyLong_AsLong(res);
    Py_DECREF(res);
    if (m == -1 && PyErr_Occurred()) tb_fail(tb, NULL);
    return (int)m;
}

static int
dispatch_document(TB *tb, FTok *t)
{
    int act = pre_switch(tb, t);
    if (act != A_NONE) return act;
    switch (t->type) {
    case T_START:
        if (tb->mode == M_IN_BODY) {
            in_body_start_document(tb, t);
            return A_CHECK;
        }
        return start_tag_document(tb, t);
    case T_CHAR:
        return character_document(tb, t);
    case T_END:
        return end_tag_document(tb, t);
    case T_COMMENT:
        insert_comment(tb, tb_current(tb));
        return A_CHECK;
    case T_EOF:
        switch (tb->mode) {
        case M_INITIAL:
            tb_err(tb, E_EOF_DOCTYPE);
            tb->dmode = DM_QUIRKS;
            tb->mode = M_BEFORE_HTML;
            return A_REPROCESS;
        case M_BEFORE_HTML:
            ensure_body(tb);
            tb->mode = M_IN_BODY;
            return A_REPROCESS;
        case M_IN_HEAD:
            close_head(tb);
            return A_REPROCESS;
        default:
            return eof_common(tb);
        }
    case T_DOCTYPE:
        if (tb->mode != M_INITIAL) {
            tb_err(tb, E_STRAY_DOCTYPE);
            return A_CHECK;
        }
        append_child(tb, tb->doc, new_node(tb, N_DOCTYPE));
        tb->dmode = doctype_mode(tb, t->rec);
        tb->mode = M_BEFORE_HTML;
        return A_CHECK;
    }
    return A_STOP;
}

/* ================= fragment loop (TreeBuilder._dispatch_fragment) === */

/* TreeBuilder._foster_start_tag_fragment: no reconstruct, no
   formatting push */
static int
foster_start_tag_fragment(TB *tb, FTok *t)
{
    if (t->tag == TAG_template) {
        foster_template(tb, t);
        return A_CHECK;
    }
    FNode *n = new_element(tb, t->tag, t->name, t->attrs);
    foster_insert(tb, n);
    if (!t->self_closing && !HAS(t->tag, F_VOID)) tb_push(tb, n);
    return A_CHECK;
}

/* TreeBuilder._start_tag_fragment */
static int
start_tag_fragment(TB *tb, FTok *t)
{
    short tag = t->tag;
    if (tb->mode == M_IN_HEAD) {
        if (tag == TAG_template) {
            FNode *tmpl = create_template(tb, t->attrs);
            append_child(tb, tb_current(tb), tmpl);
            open_template(tb, tmpl, t->self_closing);
            return A_CHECK;
        }
        if (tag == TAG_noscript) {
            tb_push(tb, insert_el(tb, t));
            tb->mode = M_IN_HEAD_NOSCRIPT;
            return A_CHECK;
        }
        if (!HAS(tag, F_HEAD_EL)) {
            tb->mode = M_IN_BODY;
            return A_REPROCESS;
        }
    }
    if (tb->mode == M_IN_TABLE || tb->mode == M_IN_TABLE_TEXT
            || tb->mode == M_IN_TABLE_BODY || tb->mode == M_IN_ROW
            || tb->mode == M_IN_CELL) {
        FNode *cur = tb_current(tb);
        if (cur->type == N_ELEMENT && !HAS(cur->tag, F_TABLE_EL)) {
            in_body_start_fragment(tb, t);
            return A_CHECK;
        }
    }
    switch (tb->mode) {
    case M_IN_BODY:
        in_body_start_fragment(tb, t);
        return A_CHECK;
    case M_IN_TABLE: {
        int act = start_tag_in_table_common(tb, t);
        if (act != A_NONE) return act;
        if (tag == TAG_tr || HAS(tag, F_CELL)) {
            /* fragment mode DOES synthesize the implicit tbody */
            FNode *n = new_element(tb, TAG_tbody, NULL, NULL);
            append_child(tb, tb_current(tb), n);
            tb_push(tb, n);
            tb->mode = M_IN_TABLE_BODY;
            return A_REPROCESS;
        }
        if (is_hidden_input(t)) {
            tb_err(tb, E_START_IN_TABLE);
            insert_el(tb, t);
            return A_CHECK;
        }
        if (!HAS(tag, F_TABLE_EL)) return foster_start_tag_fragment(tb, t);
        return A_CHECK;
    }
    case M_IN_TABLE_BODY:
        if (tag == TAG_tr) {
            tb_push(tb, insert_el(tb, t));
            tb->mode = M_IN_ROW;
            return A_CHECK;
        }
        if (HAS(tag, F_CELL)) {
            insert_row_and_cell(tb, t);
            return A_CHECK;
        }
        if (!HAS(tag, F_TABLE_EL)) return foster_start_tag_fragment(tb, t);
        return A_CHECK;
    case M_IN_ROW:
        if (HAS(tag, F_CELL)) {
            tb_push(tb, insert_el(tb, t));
            fmt_push_marker(tb);
            tb->mode = M_IN_CELL;
            return A_CHECK;
        }
        if (!HAS(tag, F_TABLE_EL)) return foster_start_tag_fragment(tb, t);
        return A_CHECK;
    case M_IN_CELL:
        if (HAS(tag, F_CELL)) {
            close_cell(tb);
            tb->mode = M_IN_ROW;
            return A_REPROCESS;
        }
        if (tag == TAG_select) {
            tb_push(tb, insert_el(tb, t));
            tb->mode = M_IN_SELECT_IN_TABLE;
            return A_CHECK;
        }
        in_body_start_fragment(tb, t);
        return A_CHECK;
    case M_IN_CAPTION:
        if (tag == TAG_table) {
            pop_until(tb, TAG_caption, NULL);
            tb->mode = M_IN_TABLE;
            return A_REPROCESS;
        }
        if (tag == TAG_template) {
            FNode *tmpl = create_template(tb, t->attrs);
            append_child(tb, tb_current(tb), tmpl);
            open_template(tb, tmpl, t->self_closing);
            return A_CHECK;
        }
        insert_el_push(tb, t);
        return A_CHECK;
    case M_IN_SELECT: case M_IN_SELECT_IN_TABLE:
        return start_tag_in_select(tb, t, 0);
    default:
        return A_CHECK;
    }
}

/* TreeBuilder._end_tag_fragment */
static int
end_tag_fragment(TB *tb, FTok *t)
{
    short tag = t->tag;
    int mode = tb->mode;
    if (tag == TAG_template && has_open(tb, TAG_template, NULL)) {
        close_template(tb);
        return A_CHECK;
    }
    if (tag == TAG_form && mode == M_IN_BODY)
        return end_tag_form(tb);
    if (mode == M_IN_BODY) {
        int act = end_tag_body_items(tb, t);
        if (act != A_NONE) return act;
    }
    if (tag == TAG_table && in_table_scope(tb, TAG_table, NULL)) {
        if (mode == M_IN_CELL) fmt_clear_to_marker(tb);
        pop_until(tb, TAG_table, NULL);
        tb->mode = M_IN_BODY;
        return A_CHECK;
    }
    if (HAS(tag, F_CELL) && mode == M_IN_CELL
            && in_table_scope(tb, tag, NULL)) {
        pop_until(tb, tag, NULL);
        fmt_clear_to_marker(tb);
        tb->mode = M_IN_ROW;
        return A_CHECK;
    }
    if (tag == TAG_tr && mode == M_IN_ROW
            && in_table_scope(tb, TAG_tr, NULL)) {
        pop_until(tb, TAG_tr, NULL);
        tb->mode = (has_open(tb, TAG_tbody, NULL)
                    || has_open(tb, TAG_thead, NULL)
                    || has_open(tb, TAG_tfoot, NULL))
                   ? M_IN_TABLE_BODY : M_IN_TABLE;
        return A_CHECK;
    }
    if (HAS(tag, F_SECTION) && mode == M_IN_TABLE_BODY
            && in_table_scope(tb, tag, NULL)) {
        pop_until(tb, tag, NULL);
        tb->mode = M_IN_TABLE;
        return A_CHECK;
    }
    if (tag == TAG_caption && mode == M_IN_CAPTION
            && in_table_scope(tb, TAG_caption, NULL)) {
        pop_until(tb, TAG_caption, NULL);
        fmt_clear_to_marker(tb);
        tb->mode = M_IN_TABLE;
        return A_CHECK;
    }
    if (tag == TAG_select
            && (mode == M_IN_SELECT || mode == M_IN_SELECT_IN_TABLE))
        return end_tag_select(tb);
    return end_tag_tail(tb, t);
}

/* TreeBuilder._character_fragment */
static int
character_fragment(TB *tb, FTok *t)
{
    PyObject *data = t->data;
    if (!data || !PyUnicode_GET_LENGTH(data)) return A_CHECK;
    if (is_ws_only(data)) {
        if (tb->mode == M_IN_BODY) reconstruct(tb, tb_current(tb));
        return A_CHECK;
    }
    if (tb->mode == M_IN_TABLE) {
        tb->mode = M_IN_TABLE_TEXT;
        table_text_add(tb, data);
        return A_CHECK;
    }
    if (tb->mode == M_IN_TABLE_TEXT || tb->mode == M_IN_TABLE_BODY
            || tb->mode == M_IN_ROW || tb->mode == M_IN_CELL) {
        FNode *cur = tb_current(tb);
        if (tb->mode == M_IN_CELL
                || (cur->type == N_ELEMENT && !HAS(cur->tag, F_TABLE_EL)))
            insert_text(tb, cur, data);
        else
            foster_insert(tb, new_text(tb, data));
        return A_CHECK;
    }
    if (tb->mode == M_IN_BODY) reconstruct(tb, tb_current(tb));
    insert_text(tb, tb_current(tb), data);
    return A_CHECK;
}

static int
dispatch_fragment(TB *tb, FTok *t)
{
    int act = pre_switch(tb, t);
    if (act != A_NONE) return act;
    switch (t->type) {
    case T_START:
        return start_tag_fragment(tb, t);
    case T_CHAR:
        return character_fragment(tb, t);
    case T_END:
        return end_tag_fragment(tb, t);
    case T_COMMENT:
        insert_comment(tb, tb_current(tb));
        return A_CHECK;
    case T_EOF:
        return eof_common(tb);
    }
    /* a DOCTYPE token stops the fragment loop (the C switch default) */
    return A_STOP;
}

/* -- drive loop (TreeBuilder._run) -- */

/* one token through the dispatcher, reprocessing included */
static void
tb_step(TB *tb, FTok *t)
{
    int act = tb->dispatch(tb, t);
    while (act == A_REPROCESS) act = tb->dispatch(tb, t);
    if (act == A_CHECK) {
        /* MODE_TEXT entry after a start tag */
        if (t->type == T_START && tb->mode != M_TEXT
                && (tb->tz_state == S_RCDATA || tb->tz_state == S_RAWTEXT
                    || tb->tz_state == S_SCRIPT)) {
            tb->original_mode = tb->mode;
            tb->mode = M_TEXT;
        }
    } else if (act == A_STOP) {
        tb->stopped = 1;
    }
}

/* dispatch the records scanned since the last call (stops with the
   loop: the Python tokenizer is never asked for the rest) */
static void
tb_feed(TB *tb)
{
    while (tb->fed < tb->sc.rb.n && !tb->stopped) {
        TokRec *r = &tb->sc.rb.recs[tb->fed++];
        if (r->errs) {
            /* tokenizer-side errors surface at pull time, before the
               builder sees the token (FastFeed_next) */
            Py_ssize_t m = PyList_GET_SIZE(r->errs);
            tb->errs = tb_grow(tb, tb->errs, &tb->cap_errs,
                               tb->n_errs + m, sizeof(PyObject *));
            for (Py_ssize_t k = 0; k < m; k++)
                tb->errs[tb->n_errs++] = PyList_GET_ITEM(r->errs, k);
        }
        FTok t = {r->type, TAG_OTHER, r->name, r->data, r->attrs,
                  r->self_closing, r};
        tb->tz_state = r->state_after;
        if (t.type == T_START || t.type == T_END) {
            t.tag = tag_of(r->name);
            if (t.type == T_START && t.tag == TAG_frameset)
                tb_fail(tb, "tree-frameset");
        }
        tb_step(tb, &t);
    }
}

/* Scan and build together: the scanner stops at each CDATA opener and
   the builder, having taken every token before it, answers allow_cdata
   as TreeBuilder._run does (stack top present and not HTML).  Returns
   0 when the input is consumed or the loop stopped, 1 on a scanner
   bail, -1 on a python error. */
static int
tb_run(TB *tb)
{
    Scan *sc = &tb->sc;
    sc->pause_cdata = 1;
    for (;;) {
        int rc = scan_all(sc);
        if (rc == 1 || rc < 0) return rc;
        tb_feed(tb);
        if (tb->stopped) return 0;
        if (rc == 0) break;
        FNode *top = tb_top(tb);
        if (scan_cdata(sc, top && top->ns != NS_HTML) < 0) return -1;
    }
    while (!tb->stopped) {
        FTok t = {T_EOF, TAG_OTHER, NULL, NULL, NULL, 0, NULL};
        tb_step(tb, &t);
    }
    return 0;
}

/* the end of build_document / build_fragment: clear the stack, adopt
   the fragment context's children, flush pending table text */
static void
tb_finish(TB *tb)
{
    tb->nst = 0;
    if (tb->context) {
        for (FNode *c = tb->doc->first; c; c = c->next) c->parent = NULL;
        tb->doc->first = tb->doc->last = NULL;
        reparent_children(tb->context, tb->doc);
    }
    if (tb->mode == M_IN_TABLE_TEXT && tb->n_tt) {
        /* the stack is empty: the foster parent and the current node
           are both the document */
        insert_text(tb, tb->doc, table_text_join(tb));
        tb->n_tt = 0;
    }
}

/* extract.extract_text_with_spans + count_nodes over the arena tree:
   returns (text, spans, node_count) */
static PyObject *
tb_extract(TB *tb)
{
    Py_ssize_t cap = 64, depth = 0, nodes = 0, total = 0;
    Py_UCS4 maxchar = 0;
    PyObject *spans = PyList_New(0);
    PyObject **paths = PyMem_Calloc(cap, sizeof(PyObject *));
    FNode **chain = PyMem_Calloc(cap, sizeof(FNode *));
    PyObject *texts = PyList_New(0);
    PyObject *out = NULL;
    if (!spans || !paths || !chain || !texts) {
        if (!PyErr_Occurred()) PyErr_NoMemory();
        goto done;
    }
    /* preorder walk; chain[d] is the node at depth d, paths[d] its
       lazily built element path ("" for the document) */
    FNode *n = tb->doc;
    chain[0] = n;
    for (;;) {
        nodes++;
        if (n->type == N_TEXT && n->data && PyUnicode_GET_LENGTH(n->data)) {
            /* path of the enclosing element chain, built on demand */
            Py_ssize_t d = depth - 1, k = d;
            while (k > 0 && !paths[k]) k--;
            if (!paths[0]) {
                paths[0] = PyUnicode_FromStringAndSize("", 0);
                if (!paths[0]) goto done;
            }
            for (k = k + 1; k <= d; k++) {
                FNode *e = chain[k];
                if (e->type != N_ELEMENT) {
                    Py_INCREF(paths[k - 1]);
                    paths[k] = paths[k - 1];
                } else if (PyUnicode_GET_LENGTH(paths[k - 1]) == 0) {
                    Py_INCREF(e->name);
                    paths[k] = e->name;
                } else {
                    paths[k] = PyUnicode_FromFormat("%U/%U", paths[k - 1],
                                                    e->name);
                    if (!paths[k]) goto done;
                }
            }
            Py_ssize_t len = PyUnicode_GET_LENGTH(n->data);
            PyObject *sp = PyDict_New();
            PyObject *a = PyLong_FromSsize_t(total);
            PyObject *b = PyLong_FromSsize_t(total + len);
            int bad = !sp || !a || !b
                || PyDict_SetItem(sp, KEY_START, a) < 0
                || PyDict_SetItem(sp, KEY_END, b) < 0
                || PyDict_SetItem(sp, KEY_PATH, paths[d]) < 0
                || PyList_Append(spans, sp) < 0
                || PyList_Append(texts, n->data) < 0;
            Py_XDECREF(sp); Py_XDECREF(a); Py_XDECREF(b);
            if (bad) goto done;
            Py_UCS4 mc = PyUnicode_MAX_CHAR_VALUE(n->data);
            if (mc > maxchar) maxchar = mc;
            total += len;
        }
        if (n->first) {
            depth++;
            if (depth >= cap) {
                Py_ssize_t nc = cap * 2;
                PyObject **np = PyMem_Realloc(paths, nc * sizeof(PyObject *));
                if (!np) { PyErr_NoMemory(); goto done; }
                paths = np;
                FNode **nch = PyMem_Realloc(chain, nc * sizeof(FNode *));
                if (!nch) { PyErr_NoMemory(); goto done; }
                chain = nch;
                memset(paths + cap, 0, (nc - cap) * sizeof(PyObject *));
                cap = nc;
            }
            n = n->first;
            chain[depth] = n;
            continue;
        }
        while (depth > 0 && !n->next) {
            Py_CLEAR(paths[depth]);
            depth--;
            n = chain[depth];
        }
        if (depth == 0) break;
        Py_CLEAR(paths[depth]);
        n = n->next;
        chain[depth] = n;
    }
    PyObject *text = PyUnicode_New(total, maxchar);
    if (!text) goto done;
    Py_ssize_t pos = 0;
    for (Py_ssize_t k = 0; k < PyList_GET_SIZE(texts); k++) {
        PyObject *s = PyList_GET_ITEM(texts, k);
        Py_ssize_t len = PyUnicode_GET_LENGTH(s);
        if (PyUnicode_CopyCharacters(text, pos, s, 0, len) < 0) {
            Py_DECREF(text);
            goto done;
        }
        pos += len;
    }
    out = Py_BuildValue("(NOn)", text, spans, nodes);
done:
    if (paths)
        for (Py_ssize_t k = 0; k < cap; k++) Py_XDECREF(paths[k]);
    PyMem_Free(paths);
    PyMem_Free(chain);
    Py_XDECREF(spans);
    Py_XDECREF(texts);
    return out;
}

static void
tb_free(TB *tb)
{
    while (tb->arena) {
        ArenaBlock *b = tb->arena;
        tb->arena = b->next;
        PyMem_Free(b);
    }
    for (Py_ssize_t k = 0; k < tb->n_owned; k++) Py_DECREF(tb->owned[k]);
    PyMem_Free(tb->owned);
    PyMem_Free(tb->errs);
    PyMem_Free(tb->tt);
}

/* context tags whose fragment build does not start in IN_BODY
   (treebuilder._RCDATA_FRAGMENT_MODES plus template) */
static int
context_supported(PyObject *ctx)
{
    static const char *other[] = {"table", "tbody", "thead", "tfoot", "tr",
                                  "td", "th", "caption", "select", "head",
                                  "template", NULL};
    for (int k = 0; other[k]; k++)
        if (PyUnicode_CompareWithASCIIString(ctx, other[k]) == 0) return 0;
    return 1;
}

/* the build proper: the extraction, or NULL (tb->scan_rc == 1 after a
   scanner bail, else a python error) */
static PyObject *
fused_run(TB *tb, PyObject *doc_mode_fn, int document, PyObject *context,
          PyObject *errors)
{
    int use_ctx = !document && context != Py_None
        && PyUnicode_GET_LENGTH(context) > 0;
    if (use_ctx && !context_supported(context))
        tb_fail(tb, "tree-context");
    tb->dispatch = document ? dispatch_document : dispatch_fragment;
    tb->doc_mode_fn = doc_mode_fn;
    tb->doc = new_node(tb, N_DOCUMENT);
    tb->mode = tb->original_mode = document ? M_INITIAL : M_IN_BODY;
    if (use_ctx) {
        tb->context = new_element(tb, tag_of(context), context, NULL);
        tb_push(tb, tb->context);
    }
    int rc = tb_run(tb);
    if (rc) {
        tb->scan_rc = rc;
        return NULL;
    }
    tb_finish(tb);
    PyObject *result = tb_extract(tb);
    if (result) {
        for (Py_ssize_t k = 0; k < tb->n_errs; k++) {
            if (PyList_Append(errors, tb->errs[k]) < 0) {
                Py_CLEAR(result);
                break;
            }
        }
    }
    return result;
}

/* fused_build(text, errors, decode_fn, doc_mode_fn, document, context)
   -> (extracted_text, spans, node_count) with the error texts appended
   to `errors`; a FastFeed over the same records when the tree builder
   bails (the rest of the input is scanned as make_feed would); None
   when the scanner bails, also while scanning for that hand-over.
   bail_reason() names the bail. */
static PyObject *
fused_build(PyObject *Py_UNUSED(mod), PyObject *args)
{
    PyObject *text, *errors, *decode_fn, *doc_mode_fn, *context;
    int document;
    last_bail = NULL;
    if (!PyArg_ParseTuple(args, "UO!OOpO", &text, &PyList_Type, &errors,
                          &decode_fn, &doc_mode_fn, &document, &context))
        return NULL;
    if (PyUnicode_READY(text) < 0)
        return NULL;
    if (context != Py_None && !PyUnicode_Check(context)) {
        PyErr_SetString(PyExc_TypeError, "context must be str or None");
        return NULL;
    }
    TB *tb = PyMem_Calloc(1, sizeof(TB));
    if (!tb) return PyErr_NoMemory();
    Scan *sc = &tb->sc;
    PyObject *volatile result = NULL;
    int keep = 0;
    int rc = scan_begin(sc, text, decode_fn);
    if (rc == 0) {
        if (setjmp(tb->fail) == 0)
            result = fused_run(tb, doc_mode_fn, document, context, errors);
        if (tb->bail) {
            /* tree bail: scan the rest with no builder, then hand the
               records to the Python builder */
            sc->pause_cdata = 0;
            rc = scan_all(sc);
            last_bail = tb->bail;
            keep = rc == 0;
        } else if (!result) {
            rc = tb->scan_rc == 1 ? 1 : -1;
        }
    }
    if (rc == 1) last_bail = sc->bail;
    tb_free(tb);
    scan_end(sc, keep);
    if (keep) result = feed_from_scan(sc, text, errors);
    PyMem_Free(tb);
    if (rc == 1) Py_RETURN_NONE;
    return rc < 0 ? NULL : result;
}

/* tag table, tag-set flags and constant strings for the fused builder */
static int
fused_init(void)
{
    TAG_IDS = PyDict_New();
    if (!TAG_IDS) return -1;
    for (int t = 1; t < TAG_COUNT; t++) {
        TAG_NAME[t] = PyUnicode_InternFromString(TAG_STR[t]);
        PyObject *id = PyLong_FromLong(t);
        if (!TAG_NAME[t] || !id
                || PyDict_SetItem(TAG_IDS, TAG_NAME[t], id) < 0) {
            Py_XDECREF(id);
            return -1;
        }
        Py_DECREF(id);
    }
    for (size_t k = 0; k < sizeof(TAG_SETS) / sizeof(TAG_SETS[0]); k++) {
        const char *p = TAG_SETS[k].names;
        while (*p) {
            const char *e = strchr(p, ' ');
            size_t len = e ? (size_t)(e - p) : strlen(p);
            int found = 0;
            for (int t = 1; t < TAG_COUNT; t++) {
                if (strlen(TAG_STR[t]) == len
                        && strncmp(TAG_STR[t], p, len) == 0) {
                    TAG_FLAGS[t] |= TAG_SETS[k].flag;
                    found = 1;
                    break;
                }
            }
            if (!found) {
                PyErr_SetString(PyExc_SystemError, "tag set names a tag "
                                "missing from TAG_LIST");
                return -1;
            }
            p += len;
            while (*p == ' ') p++;
        }
    }
    for (int e = 0; e < E_COUNT; e++) {
        ERR_OBJ[e] = PyUnicode_InternFromString(ERR_STR[e]);
        if (!ERR_OBJ[e]) return -1;
    }
    KEY_START = PyUnicode_InternFromString("start");
    KEY_END = PyUnicode_InternFromString("end");
    KEY_PATH = PyUnicode_InternFromString("path");
    KEY_ENCODING = PyUnicode_InternFromString("encoding");
    NAME_FOREIGN_OBJECT = PyUnicode_InternFromString("foreignObject");
    NAME_ANNOTATION_XML = PyUnicode_InternFromString("annotation-xml");
    SVG_NAMES = PyDict_New();
    if (!KEY_START || !KEY_END || !KEY_PATH || !KEY_ENCODING
            || !NAME_FOREIGN_OBJECT || !NAME_ANNOTATION_XML || !SVG_NAMES)
        return -1;
    for (int k = 0; SVG_NAME_PAIRS[k]; k += 2) {
        PyObject *adj = PyUnicode_InternFromString(SVG_NAME_PAIRS[k + 1]);
        if (!adj || PyDict_SetItemString(SVG_NAMES, SVG_NAME_PAIRS[k],
                                         adj) < 0) {
            Py_XDECREF(adj);
            return -1;
        }
        Py_DECREF(adj);
    }
    return 0;
}

/* ------------------------------------------------------------------ */
/* module API                                                          */
/* ------------------------------------------------------------------ */

static PyObject *
bail_reason(PyObject *Py_UNUSED(mod), PyObject *Py_UNUSED(args))
{
    if (last_bail == NULL)
        Py_RETURN_NONE;
    return PyUnicode_FromString(last_bail);
}

static PyMethodDef module_methods[] = {
    {"make_feed", make_feed, METH_VARARGS,
     "make_feed(text, errors) -> FastFeed | None"},
    {"fused_build", fused_build, METH_VARARGS,
     "fused_build(text, errors, decode_fn, doc_mode_fn, document, context)"
     " -> (text, spans, node_count) | FastFeed | None"},
    {"bail_reason", bail_reason, METH_NOARGS,
     "reason string for the most recent make_feed()/fused_build() bail,"
     " None after an accepted call"},
    {NULL}
};

static struct PyModuleDef moduledef = {
    PyModuleDef_HEAD_INIT, "_fastscan", NULL, -1, module_methods,
};

PyMODINIT_FUNC
PyInit__fastscan(void)
{
    if (PyType_Ready(&FastToken_Type) < 0) return NULL;
    if (PyType_Ready(&FastFeed_Type) < 0) return NULL;
    EMPTY_ATTRS = PyList_New(0);
    if (!EMPTY_ATTRS) return NULL;
    if (fused_init() < 0) return NULL;
    PyObject *m = PyModule_Create(&moduledef);
    if (!m) return NULL;
    return m;
}
