/* C accelerator for the pure-Python HTML tokenizer + tree builder.
 *
 * Drop-in replacement for trafilatura_spark.dom._FastBuilder (the
 * regex-free single-scan tokenizer): same html5-recovery semantics —
 * implied end tags, head/body insertion-mode recovery, void elements,
 * lowercase names, first-attribute-wins, charref unescaping (delegated
 * to html.unescape), script/style raw text with the [\s/>] end-tag
 * delimiter rule, comments/doctype skipped, quote-parity '>'-extension
 * for attribute values holding '>' — byte-for-byte identical trees
 * (pinned by tests/test_chtml.py: exact tree differential over the
 * reference cache corpus + seeded tag-soup fuzz, and by the 1,033-page
 * golden manifests which run through this path when it is available).
 *
 * Builds Node objects from dom.Node (a __slots__ class) via direct
 * slot writes: the member-descriptor offsets are resolved once in
 * setup().  Everything is iterative; errors propagate as normal Python
 * exceptions and parse_html's existing except-fallback catches them.
 *
 * The seam is optional: trafilatura_spark/chtml.py compiles this file
 * with gcc when available and dom.py falls back to the pure-Python
 * builder otherwise (SURVEY §8 round-5 lever (a)).
 */
#define PY_SSIZE_T_CLEAN
#include <Python.h>
#include <structmember.h>
#include <string.h>

/* ---------------------------------------------------------------- state */

static PyTypeObject *node_type = NULL;
static Py_ssize_t off_tag, off_attrs, off_children, off_parent, off_text, off_tail;

static PyObject *set_void = NULL;      /* VOID_ELEMENTS */
static PyObject *set_pclosers = NULL;  /* _P_CLOSERS */
static PyObject *set_pbarriers = NULL; /* _P_CLOSE_BARRIERS */
static PyObject *map_implied = NULL;   /* _IMPLIED_END */
static PyObject *set_headcontent = NULL; /* _HEAD_CONTENT */
static PyObject *set_needsimplied = NULL; /* _NEEDS_IMPLIED */
static PyObject *set_gatetags = NULL;  /* _GATE_TAGS */
static PyObject *unescape_fn = NULL;   /* html.unescape */

static PyObject *tagcache = NULL;      /* str -> canonical str (bounded) */
#define TAGCACHE_MAX 512

static PyObject *c_root, *c_head, *c_body, *c_html, *c_p, *c_script, *c_style,
    *c_table, *c_tr, *c_td, *c_th, *c_ul, *c_ol, *c_dl, *c_select,
    *c_empty, *c_lt, *c_arrow, *c_figure, *c_div, *c_a, *c_class,
    *c_id, *c_br;

#define GET_SLOT(o, off) (*(PyObject **)((char *)(o) + (off)))
#define SET_SLOT(o, off, v) (*(PyObject **)((char *)(o) + (off)) = (v))

static inline int
str_eq(PyObject *a, PyObject *b)
{
    if (a == b)
        return 1;
    /* INVARIANT: both operands are str (tags are canonicalized strs and
     * user filter tuples pass through filter_str_tags), so
     * PyUnicode_Compare cannot raise and -1 simply means "less than" */
    return PyUnicode_Compare(a, b) == 0;
}

/* membership in a frozenset of str; -1 on error */
static inline int
set_has(PyObject *set, PyObject *key)
{
    return PySet_Contains(set, key);
}

static inline Py_ssize_t
find_char(PyObject *s, Py_UCS4 ch, Py_ssize_t start, Py_ssize_t end)
{
    if (start >= end)
        return -1;
    return PyUnicode_FindChar(s, ch, start, end, 1);
}

/* ------------------------------------------------------------- Node ops */

/* new Node; steals attrs (or pass NULL for a fresh dict); parent borrowed
 * (may be NULL for None). Returns owned ref or NULL. */
static PyObject *
node_new(PyObject *tag, PyObject *attrs, PyObject *parent)
{
    PyObject *n = node_type->tp_alloc(node_type, 0);
    if (n == NULL) {
        Py_XDECREF(attrs);
        return NULL;
    }
    if (attrs == NULL) {
        attrs = PyDict_New();
        if (attrs == NULL) {
            Py_DECREF(n);
            return NULL;
        }
    }
    PyObject *children = PyList_New(0);
    if (children == NULL) {
        Py_DECREF(attrs);
        Py_DECREF(n);
        return NULL;
    }
    Py_INCREF(tag);
    SET_SLOT(n, off_tag, tag);
    SET_SLOT(n, off_attrs, attrs);
    SET_SLOT(n, off_children, children);
    if (parent == NULL)
        parent = Py_None;
    Py_INCREF(parent);
    SET_SLOT(n, off_parent, parent);
    Py_INCREF(c_empty);
    SET_SLOT(n, off_text, c_empty);
    Py_INCREF(c_empty);
    SET_SLOT(n, off_tail, c_empty);
    return n;
}

/* ------------------------------------------------------------ the stack */

typedef struct {
    PyObject *root;      /* owned */
    PyObject **stack;    /* borrowed refs (tree keeps them alive) */
    Py_ssize_t len, cap;
} PState;

static int
st_push(PState *st, PyObject *node)
{
    if (st->len == st->cap) {
        Py_ssize_t ncap = st->cap * 2;
        PyObject **ns = PyMem_Realloc(st->stack, ncap * sizeof(PyObject *));
        if (ns == NULL) {
            PyErr_NoMemory();
            return -1;
        }
        st->stack = ns;
        st->cap = ncap;
    }
    st->stack[st->len++] = node;
    return 0;
}

static inline PyObject *
st_top_tag(PState *st)
{
    return GET_SLOT(st->stack[st->len - 1], off_tag);
}

/* ------------------------------------------------------------- add_text */

static int
has_nonspace(PyObject *s)
{
    Py_ssize_t n = PyUnicode_GET_LENGTH(s);
    int kind = PyUnicode_KIND(s);
    const void *data = PyUnicode_DATA(s);
    for (Py_ssize_t i = 0; i < n; i++) {
        if (!Py_UNICODE_ISSPACE(PyUnicode_READ(kind, data, i)))
            return 1;
    }
    return 0;
}

/* mirrors _FastBuilder._add_text; steals data. */
static int
add_text(PState *st, PyObject *data)
{
    if (data == NULL)
        return -1;
    if (PyUnicode_GET_LENGTH(data) == 0) { /* semantic no-op */
        Py_DECREF(data);
        return 0;
    }
    PyObject *cur = st->stack[st->len - 1];
    if (str_eq(GET_SLOT(cur, off_tag), c_head) && has_nonspace(data)) {
        /* html5 "in head": non-ws text ends head, reparents into body */
        st->len--;
        PyObject *parent = st->stack[st->len - 1];
        PyObject *body = node_new(c_body, NULL, parent);
        if (body == NULL)
            goto fail;
        if (PyList_Append(GET_SLOT(parent, off_children), body) < 0) {
            Py_DECREF(body);
            goto fail;
        }
        if (st_push(st, body) < 0) {
            Py_DECREF(body);
            goto fail;
        }
        Py_DECREF(body); /* children list holds it */
        cur = st->stack[st->len - 1];
    }
    PyObject *children = GET_SLOT(cur, off_children);
    PyObject *target;
    Py_ssize_t off;
    Py_ssize_t nch = PyList_GET_SIZE(children);
    if (nch > 0) {
        target = PyList_GET_ITEM(children, nch - 1);
        off = off_tail;
    }
    else {
        target = cur;
        off = off_text;
    }
    PyObject *old = GET_SLOT(target, off);
    if (PyUnicode_GET_LENGTH(old) == 0) {
        SET_SLOT(target, off, data); /* steal */
        Py_DECREF(old);
    }
    else {
        PyObject *cat = PyUnicode_Concat(old, data);
        Py_DECREF(data);
        if (cat == NULL)
            return -1;
        SET_SLOT(target, off, cat);
        Py_DECREF(old);
    }
    return 0;
fail:
    Py_DECREF(data);
    return -1;
}

/* --------------------------------------------------------- string utils */

/* substring, unescaped iff it contains '&' (for inter-tag text). Owned. */
static PyObject *
text_chunk(PyObject *s, Py_ssize_t a, Py_ssize_t b)
{
    PyObject *sub = PyUnicode_Substring(s, a, b);
    if (sub == NULL)
        return NULL;
    Py_ssize_t amp = find_char(sub, '&', 0, PyUnicode_GET_LENGTH(sub));
    if (amp < -1) { /* error */
        Py_DECREF(sub);
        return NULL;
    }
    if (amp >= 0) {
        PyObject *un = PyObject_CallOneArg(unescape_fn, sub);
        Py_DECREF(sub);
        return un;
    }
    return sub;
}

/* lowercased substring: ASCII fast path, Python .lower() otherwise. Owned. */
static PyObject *
lower_sub(PyObject *s, Py_ssize_t a, Py_ssize_t b)
{
    int kind = PyUnicode_KIND(s);
    const void *data = PyUnicode_DATA(s);
    Py_ssize_t len = b - a;
    int ascii_ok = 1;
    for (Py_ssize_t i = a; i < b; i++) {
        if (PyUnicode_READ(kind, data, i) >= 128) {
            ascii_ok = 0;
            break;
        }
    }
    if (ascii_ok) {
        PyObject *out = PyUnicode_New(len, 127);
        if (out == NULL)
            return NULL;
        Py_UCS1 *w = PyUnicode_1BYTE_DATA(out);
        for (Py_ssize_t i = 0; i < len; i++) {
            Py_UCS4 ch = PyUnicode_READ(kind, data, a + i);
            if (ch >= 'A' && ch <= 'Z')
                ch += 32;
            w[i] = (Py_UCS1)ch;
        }
        return out;
    }
    PyObject *sub = PyUnicode_Substring(s, a, b);
    if (sub == NULL)
        return NULL;
    PyObject *low = PyObject_CallMethod(sub, "lower", NULL);
    Py_DECREF(sub);
    return low;
}

/* canonicalize a tag string through the bounded cache. Steals t; owned. */
static PyObject *
canon_tag(PyObject *t)
{
    if (t == NULL)
        return NULL;
    PyObject *hit = PyDict_GetItemWithError(tagcache, t);
    if (hit != NULL) {
        Py_INCREF(hit);
        Py_DECREF(t);
        return hit;
    }
    if (PyErr_Occurred()) {
        Py_DECREF(t);
        return NULL;
    }
    if (PyDict_GET_SIZE(tagcache) < TAGCACHE_MAX) {
        if (PyDict_SetItem(tagcache, t, t) < 0) {
            Py_DECREF(t);
            return NULL;
        }
    }
    return t;
}

/* ------------------------------------------------------- insertion modes */

/* mirrors _FastBuilder._implied_close */
static int
implied_close(PState *st, PyObject *tag)
{
    int r = set_has(set_pclosers, tag);
    if (r < 0)
        return -1;
    if (r) {
        for (Py_ssize_t i = st->len - 1; i >= 1; i--) {
            PyObject *t = GET_SLOT(st->stack[i], off_tag);
            if (str_eq(t, c_p)) {
                st->len = i;
                break;
            }
            int b = set_has(set_pbarriers, t);
            if (b < 0)
                return -1;
            if (b)
                break;
        }
    }
    PyObject *closers = PyDict_GetItemWithError(map_implied, tag);
    if (closers == NULL) {
        if (PyErr_Occurred())
            return -1;
        return 0;
    }
    PyObject *barrier_tr =
        (str_eq(tag, c_td) || str_eq(tag, c_th)) ? c_tr : c_table;
    for (Py_ssize_t i = st->len - 1; i >= 1; i--) {
        PyObject *t = GET_SLOT(st->stack[i], off_tag);
        int c = set_has(closers, t);
        if (c < 0)
            return -1;
        if (c) {
            st->len = i;
            break;
        }
        if (str_eq(t, c_table) || str_eq(t, c_ul) || str_eq(t, c_ol) ||
            str_eq(t, c_dl) || str_eq(t, c_body) || str_eq(t, c_html) ||
            str_eq(t, c_root) || str_eq(t, c_select) || str_eq(t, barrier_tr))
            break;
    }
    return 0;
}

/* mirrors _FastBuilder._handle_start; borrows tag, steals amap. */
static int
handle_start(PState *st, PyObject *tag, PyObject *amap, int self_closing)
{
    if (str_eq(st_top_tag(st), c_head)) {
        int hc = set_has(set_headcontent, tag);
        if (hc < 0)
            goto fail;
        if (!hc) {
            st->len--;
            if (!str_eq(tag, c_body) && !str_eq(tag, c_html)) {
                PyObject *parent = st->stack[st->len - 1];
                PyObject *body = node_new(c_body, NULL, parent);
                if (body == NULL)
                    goto fail;
                if (PyList_Append(GET_SLOT(parent, off_children), body) < 0) {
                    Py_DECREF(body);
                    goto fail;
                }
                if (st_push(st, body) < 0) {
                    Py_DECREF(body);
                    goto fail;
                }
                Py_DECREF(body);
            }
        }
    }
    int g = set_has(set_gatetags, tag);
    if (g < 0)
        goto fail;
    if (g) {
        for (Py_ssize_t i = 0; i < st->len; i++) {
            if (str_eq(GET_SLOT(st->stack[i], off_tag), tag)) {
                Py_XDECREF(amap);
                return 0; /* duplicate html/body: merge-ignore */
            }
        }
    }
    int ni = set_has(set_needsimplied, tag);
    if (ni < 0)
        goto fail;
    if (ni && implied_close(st, tag) < 0)
        goto fail;
    PyObject *parent = st->stack[st->len - 1];
    PyObject *node = node_new(tag, amap, parent); /* steals amap */
    amap = NULL;
    if (node == NULL)
        return -1;
    if (PyList_Append(GET_SLOT(parent, off_children), node) < 0) {
        Py_DECREF(node);
        return -1;
    }
    if (!self_closing) {
        int v = set_has(set_void, tag);
        if (v < 0) {
            Py_DECREF(node);
            return -1;
        }
        if (!v && st_push(st, node) < 0) {
            Py_DECREF(node);
            return -1;
        }
    }
    Py_DECREF(node);
    return 0;
fail:
    Py_XDECREF(amap);
    return -1;
}

/* mirrors _FastBuilder._handle_end; borrows tag. */
static int
handle_end(PState *st, PyObject *tag)
{
    int v = set_has(set_void, tag);
    if (v < 0)
        return -1;
    if (v)
        return 0;
    if (str_eq(tag, c_body) || str_eq(tag, c_html))
        return 0; /* html5: mode switch only */
    if (str_eq(st_top_tag(st), tag)) {
        if (st->len > 1)
            st->len--;
        return 0;
    }
    for (Py_ssize_t i = st->len - 1; i >= 1; i--) {
        if (str_eq(GET_SLOT(st->stack[i], off_tag), tag)) {
            st->len = i;
            return 0;
        }
    }
    return 0; /* stray end tag: ignore */
}

/* --------------------------------------------------------- tag scanning */

/* mirrors dom._scan_tag_end: quote state opens only right after '=' */
static Py_ssize_t
scan_tag_end(PyObject *s, Py_ssize_t start, Py_ssize_t n)
{
    int kind = PyUnicode_KIND(s);
    const void *data = PyUnicode_DATA(s);
    Py_UCS4 quote = 0;
    int after_eq = 0;
    for (Py_ssize_t i = start; i < n; i++) {
        Py_UCS4 ch = PyUnicode_READ(kind, data, i);
        if (quote) {
            if (ch == quote)
                quote = 0;
        }
        else if (ch == '>')
            return i;
        else if (ch == '"' || ch == '\'') {
            if (after_eq)
                quote = ch;
            after_eq = 0;
        }
        else if (ch == '=')
            after_eq = 1;
        else if (!Py_UNICODE_ISSPACE(ch))
            after_eq = 0;
    }
    return -1;
}

/* replicate _FAST_ATTR_RE.finditer over s[from_..to): first-wins dict.
 * name = [a-zA-Z_:@][-.:\w@]*  (\w = unicode alnum or '_'; sre semantics)
 * value = "..." | '...' | [^\s"'>]*   (optional, after \s*=\s*)       */
static PyObject *
parse_attrs(PyObject *s, Py_ssize_t from_, Py_ssize_t to)
{
    PyObject *amap = PyDict_New();
    if (amap == NULL)
        return NULL;
    PyObject *val = NULL;
    int kind = PyUnicode_KIND(s);
    const void *data = PyUnicode_DATA(s);
    Py_ssize_t i = from_;
    while (i < to) {
        Py_UCS4 ch = PyUnicode_READ(kind, data, i);
        int is_start = ((ch < 128 &&
                         ((ch >= 'a' && ch <= 'z') || (ch >= 'A' && ch <= 'Z'))) ||
                        ch == '_' || ch == ':' || ch == '@');
        if (!is_start) {
            i++;
            continue;
        }
        Py_ssize_t name_start = i;
        i++;
        while (i < to) {
            ch = PyUnicode_READ(kind, data, i);
            if (ch == '-' || ch == '.' || ch == ':' || ch == '@' || ch == '_' ||
                Py_UNICODE_ISALNUM(ch))
                i++;
            else
                break;
        }
        Py_ssize_t name_end = i;
        /* optional \s*=\s* value */
        Py_ssize_t j = i;
        while (j < to && Py_UNICODE_ISSPACE(PyUnicode_READ(kind, data, j)))
            j++;
        val = NULL;
        if (j < to && PyUnicode_READ(kind, data, j) == '=') {
            j++;
            while (j < to && Py_UNICODE_ISSPACE(PyUnicode_READ(kind, data, j)))
                j++;
            Py_UCS4 q = (j < to) ? PyUnicode_READ(kind, data, j) : 0;
            if (q == '"' || q == '\'') {
                Py_ssize_t close = find_char(s, q, j + 1, to);
                if (close < -1)
                    goto fail;
                if (close >= 0) {
                    val = PyUnicode_Substring(s, j + 1, close);
                    i = close + 1;
                }
                else {
                    /* unterminated quote: bare alternative matches empty
                     * at j; finditer resumes there and skips the quote */
                    val = c_empty;
                    Py_INCREF(val);
                    i = j;
                }
            }
            else {
                Py_ssize_t v0 = j;
                while (j < to) {
                    ch = PyUnicode_READ(kind, data, j);
                    if (ch == '"' || ch == '\'' || ch == '>' ||
                        Py_UNICODE_ISSPACE(ch))
                        break;
                    j++;
                }
                val = PyUnicode_Substring(s, v0, j);
                i = j;
            }
            if (val == NULL)
                goto fail;
            /* unescape iff contains '&' */
            Py_ssize_t amp = find_char(val, '&', 0, PyUnicode_GET_LENGTH(val));
            if (amp < -1)
                goto failv;
            if (amp >= 0) {
                PyObject *un = PyObject_CallOneArg(unescape_fn, val);
                Py_DECREF(val);
                if (un == NULL)
                    goto fail;
                val = un;
            }
        }
        else {
            i = name_end; /* no '=': match was just the name */
            val = c_empty;
            Py_INCREF(val);
        }
        PyObject *aname = lower_sub(s, name_start, name_end);
        if (aname == NULL)
            goto failv;
        int dup = PyDict_Contains(amap, aname);
        if (dup < 0) {
            Py_DECREF(aname);
            goto failv;
        }
        if (!dup && PyDict_SetItem(amap, aname, val) < 0) {
            Py_DECREF(aname);
            goto failv;
        }
        Py_DECREF(aname);
        Py_DECREF(val);
    }
    return amap;
failv:
    Py_XDECREF(val);
fail:
    Py_DECREF(amap);
    return NULL;
}

/* ascii case-insensitive compare of s[pos..pos+len) against lowercase lit;
 * includes sre full-casefold extras: U+017F for 's', U+212A for 'k'. */
static int
casecmp_at(PyObject *s, Py_ssize_t pos, const char *lit, Py_ssize_t len)
{
    int kind = PyUnicode_KIND(s);
    const void *data = PyUnicode_DATA(s);
    for (Py_ssize_t i = 0; i < len; i++) {
        Py_UCS4 ch = PyUnicode_READ(kind, data, pos + i);
        Py_UCS4 m = (Py_UCS4)lit[i];
        if (ch == m || ch == m - 32)
            continue;
        if (m == 's' && ch == 0x17F)
            continue;
        if (m == 'k' && ch == 0x212A)
            continue;
        return 0;
    }
    return 1;
}

/* ------------------------------------------------------------ the parse */

static PyObject *
chtml_parse(PyObject *self, PyObject *arg)
{
    (void)self;
    if (node_type == NULL) {
        PyErr_SetString(PyExc_RuntimeError, "_chtml.setup() not called");
        return NULL;
    }
    if (!PyUnicode_Check(arg)) {
        PyErr_SetString(PyExc_TypeError, "parse() expects str");
        return NULL;
    }
    PyObject *s = arg;
    Py_ssize_t n = PyUnicode_GET_LENGTH(s);
    int kind = PyUnicode_KIND(s);
    const void *data = PyUnicode_DATA(s);

    PState st;
    st.root = node_new(c_root, NULL, NULL);
    if (st.root == NULL)
        return NULL;
    st.cap = 64;
    st.len = 0;
    st.stack = PyMem_Malloc(st.cap * sizeof(PyObject *));
    if (st.stack == NULL) {
        Py_DECREF(st.root);
        PyErr_NoMemory();
        return NULL;
    }
    st.stack[st.len++] = st.root;

    Py_ssize_t i = 0;
    while (i < n) {
        Py_ssize_t lt = find_char(s, '<', i, n);
        if (lt < -1)
            goto fail;
        if (lt < 0) {
            if (add_text(&st, text_chunk(s, i, n)) < 0)
                goto fail;
            break;
        }
        if (lt > i) {
            if (add_text(&st, text_chunk(s, i, lt)) < 0)
                goto fail;
        }
        Py_UCS4 c = (lt + 1 < n) ? PyUnicode_READ(kind, data, lt + 1) : 0;
        if (c == '/') {
            Py_ssize_t gt = find_char(s, '>', lt, n);
            if (gt < -1)
                goto fail;
            if (gt < 0) {
                if (add_text(&st, PyUnicode_Substring(s, lt, n)) < 0)
                    goto fail;
                break;
            }
            /* name = s[lt+2:gt].strip().lower(); if name:
             * handle_end(name.split()[0]) */
            Py_ssize_t a = lt + 2, b = gt;
            int ascii_ok = 1;
            for (Py_ssize_t k = a; k < b; k++) {
                if (PyUnicode_READ(kind, data, k) >= 128) {
                    ascii_ok = 0;
                    break;
                }
            }
            if (ascii_ok) {
                while (a < b &&
                       Py_UNICODE_ISSPACE(PyUnicode_READ(kind, data, a)))
                    a++;
                Py_ssize_t e = a;
                while (e < b &&
                       !Py_UNICODE_ISSPACE(PyUnicode_READ(kind, data, e)))
                    e++;
                if (a < e) {
                    PyObject *tag = canon_tag(lower_sub(s, a, e));
                    if (tag == NULL)
                        goto fail;
                    int r = handle_end(&st, tag);
                    Py_DECREF(tag);
                    if (r < 0)
                        goto fail;
                }
            }
            else {
                PyObject *sub = PyUnicode_Substring(s, a, b);
                if (sub == NULL)
                    goto fail;
                PyObject *stripped = PyObject_CallMethod(sub, "strip", NULL);
                Py_DECREF(sub);
                if (stripped == NULL)
                    goto fail;
                PyObject *low = PyObject_CallMethod(stripped, "lower", NULL);
                Py_DECREF(stripped);
                if (low == NULL)
                    goto fail;
                if (PyUnicode_GET_LENGTH(low) > 0) {
                    PyObject *parts = PyUnicode_Split(low, NULL, 1);
                    Py_DECREF(low);
                    if (parts == NULL)
                        goto fail;
                    if (PyList_GET_SIZE(parts) > 0) {
                        PyObject *tok = PyList_GET_ITEM(parts, 0);
                        Py_INCREF(tok);
                        PyObject *tag = canon_tag(tok);
                        if (tag == NULL) {
                            Py_DECREF(parts);
                            goto fail;
                        }
                        int r = handle_end(&st, tag);
                        Py_DECREF(tag);
                        if (r < 0) {
                            Py_DECREF(parts);
                            goto fail;
                        }
                    }
                    Py_DECREF(parts);
                }
                else
                    Py_DECREF(low);
            }
            i = gt + 1;
        }
        else if (c == '!') {
            if (lt + 4 <= n && PyUnicode_READ(kind, data, lt + 2) == '-' &&
                PyUnicode_READ(kind, data, lt + 3) == '-') {
                Py_ssize_t end =
                    (lt + 4 <= n)
                        ? PyUnicode_Find(s, c_arrow, lt + 4, n, 1)
                        : -1;
                if (end < -1)
                    goto fail;
                i = (end >= 0) ? end + 3 : n;
            }
            else {
                Py_ssize_t gt = find_char(s, '>', lt, n);
                if (gt < -1)
                    goto fail;
                i = (gt >= 0) ? gt + 1 : n;
            }
        }
        else if (c == '?') {
            Py_ssize_t gt = find_char(s, '>', lt, n);
            if (gt < -1)
                goto fail;
            i = (gt >= 0) ? gt + 1 : n;
        }
        else if (c < 128 &&
                 ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z'))) {
            /* start tag: replicate _FAST_START_RE + quote-parity extension */
            Py_ssize_t gt = find_char(s, '>', lt + 1, n);
            if (gt < -1)
                goto fail;
            if (gt < 0) {
                if (add_text(&st, PyUnicode_Substring(s, lt, n)) < 0)
                    goto fail;
                break;
            }
            Py_ssize_t ne = lt + 1;
            while (ne < gt) {
                Py_UCS4 ch = PyUnicode_READ(kind, data, ne);
                if (ch == '/' || Py_UNICODE_ISSPACE(ch))
                    break;
                ne++;
            }
            Py_ssize_t taglen = ne - (lt + 1);
            /* quote parity over s[lt+1:gt] (tag + rest) */
            Py_ssize_t dq = 0, sq = 0;
            for (Py_ssize_t k = lt + 1; k < gt; k++) {
                Py_UCS4 ch = PyUnicode_READ(kind, data, k);
                if (ch == '"')
                    dq++;
                else if (ch == '\'')
                    sq++;
            }
            if ((dq & 1) || (sq & 1)) {
                Py_ssize_t gt2 = scan_tag_end(s, lt + 1, n);
                if (gt2 >= 0)
                    gt = gt2;
            }
            Py_ssize_t rs = lt + 1 + taglen, re_ = gt;
            int self_closing =
                (re_ > rs && PyUnicode_READ(kind, data, re_ - 1) == '/');
            if (self_closing)
                re_--;
            PyObject *tag = canon_tag(lower_sub(s, lt + 1, ne));
            if (tag == NULL)
                goto fail;
            PyObject *amap;
            if (re_ > rs) {
                amap = parse_attrs(s, rs, re_);
                if (amap == NULL) {
                    Py_DECREF(tag);
                    goto fail;
                }
            }
            else {
                amap = PyDict_New();
                if (amap == NULL) {
                    Py_DECREF(tag);
                    goto fail;
                }
            }
            if (handle_start(&st, tag, amap, self_closing) < 0) {
                Py_DECREF(tag);
                goto fail;
            }
            i = gt + 1;
            int is_script = str_eq(tag, c_script);
            int is_style = !is_script && str_eq(tag, c_style);
            if (!self_closing && (is_script || is_style)) {
                const char *lit = is_script ? "script" : "style";
                Py_ssize_t tl = is_script ? 6 : 5;
                Py_ssize_t j = i, end = -1;
                while (1) {
                    j = find_char(s, '<', j, n);
                    if (j < -1) {
                        Py_DECREF(tag);
                        goto fail;
                    }
                    if (j < 0)
                        break;
                    if (j + 1 < n && PyUnicode_READ(kind, data, j + 1) == '/' &&
                        j + 2 + tl < n && casecmp_at(s, j + 2, lit, tl)) {
                        Py_UCS4 d = PyUnicode_READ(kind, data, j + 2 + tl);
                        if (d == '>' || d == '/' || Py_UNICODE_ISSPACE(d)) {
                            end = j;
                            break;
                        }
                    }
                    j++;
                }
                if (end < 0) {
                    if (add_text(&st, PyUnicode_Substring(s, i, n)) < 0 ||
                        handle_end(&st, tag) < 0) {
                        Py_DECREF(tag);
                        goto fail;
                    }
                    Py_DECREF(tag);
                    break;
                }
                if (add_text(&st, PyUnicode_Substring(s, i, end)) < 0) {
                    Py_DECREF(tag);
                    goto fail;
                }
                Py_ssize_t gt3 = find_char(s, '>', end, n);
                if (gt3 < -1 || handle_end(&st, tag) < 0) {
                    Py_DECREF(tag);
                    goto fail;
                }
                i = (gt3 >= 0) ? gt3 + 1 : n;
            }
            Py_DECREF(tag);
        }
        else if (c != 0 && Py_UNICODE_ISALPHA(c)) {
            /* unicode-alpha lead char: regex fails -> pseudo-tag as text,
             * honoring the quote-parity '>'-extension */
            Py_ssize_t gt = find_char(s, '>', lt + 1, n);
            if (gt < -1)
                goto fail;
            if (gt < 0) {
                if (add_text(&st, PyUnicode_Substring(s, lt, n)) < 0)
                    goto fail;
                break;
            }
            Py_ssize_t dq = 0, sq = 0;
            for (Py_ssize_t k = lt + 1; k < gt; k++) {
                Py_UCS4 ch = PyUnicode_READ(kind, data, k);
                if (ch == '"')
                    dq++;
                else if (ch == '\'')
                    sq++;
            }
            if ((dq & 1) || (sq & 1)) {
                Py_ssize_t gt2 = scan_tag_end(s, lt + 1, n);
                if (gt2 >= 0)
                    gt = gt2;
            }
            if (add_text(&st, PyUnicode_Substring(s, lt, gt + 1)) < 0)
                goto fail;
            i = gt + 1;
        }
        else {
            Py_INCREF(c_lt);
            if (add_text(&st, c_lt) < 0)
                goto fail;
            i = lt + 1;
        }
    }
    PyMem_Free(st.stack);
    return st.root;
fail:
    PyMem_Free(st.stack);
    Py_DECREF(st.root);
    return NULL;
}

/* ------------------------------------------------------------ deep copy */

/* shallow clone; parent borrowed (NULL -> None). Owned. */
static PyObject *
clone_shallow(PyObject *src, PyObject *parent)
{
    PyObject *attrs = PyDict_Copy(GET_SLOT(src, off_attrs));
    if (attrs == NULL)
        return NULL;
    PyObject *n = node_type->tp_alloc(node_type, 0);
    if (n == NULL) {
        Py_DECREF(attrs);
        return NULL;
    }
    PyObject *children = PyList_New(0);
    if (children == NULL) {
        Py_DECREF(attrs);
        Py_DECREF(n);
        return NULL;
    }
    PyObject *v;
    v = GET_SLOT(src, off_tag);
    Py_INCREF(v);
    SET_SLOT(n, off_tag, v);
    SET_SLOT(n, off_attrs, attrs);
    SET_SLOT(n, off_children, children);
    if (parent == NULL)
        parent = Py_None;
    Py_INCREF(parent);
    SET_SLOT(n, off_parent, parent);
    v = GET_SLOT(src, off_text);
    Py_INCREF(v);
    SET_SLOT(n, off_text, v);
    v = GET_SLOT(src, off_tail);
    Py_INCREF(v);
    SET_SLOT(n, off_tail, v);
    return n;
}

static PyObject *
chtml_copy_node(PyObject *self, PyObject *arg)
{
    (void)self;
    if (node_type == NULL) {
        PyErr_SetString(PyExc_RuntimeError, "_chtml.setup() not called");
        return NULL;
    }
    if (!PyObject_TypeCheck(arg, node_type)) {
        PyErr_SetString(PyExc_TypeError, "copy_node() expects a Node");
        return NULL;
    }
    PyObject *root = clone_shallow(arg, NULL);
    if (root == NULL)
        return NULL;
    /* worklist of (src, dst) pairs; dst borrowed (root tree owns) */
    Py_ssize_t cap = 64, len = 0;
    PyObject **work = PyMem_Malloc(cap * 2 * sizeof(PyObject *));
    if (work == NULL) {
        Py_DECREF(root);
        PyErr_NoMemory();
        return NULL;
    }
    work[0] = arg;
    work[1] = root;
    len = 1;
    while (len > 0) {
        len--;
        PyObject *src = work[len * 2];
        PyObject *dst = work[len * 2 + 1];
        PyObject *schildren = GET_SLOT(src, off_children);
        Py_ssize_t nch = PyList_GET_SIZE(schildren);
        if (nch == 0)
            continue;
        PyObject *dchildren = GET_SLOT(dst, off_children);
        for (Py_ssize_t k = 0; k < nch; k++) {
            PyObject *child = PyList_GET_ITEM(schildren, k);
            PyObject *cc = clone_shallow(child, dst);
            if (cc == NULL)
                goto fail;
            if (PyList_Append(dchildren, cc) < 0) {
                Py_DECREF(cc);
                goto fail;
            }
            Py_DECREF(cc);
            if (PyList_GET_SIZE(GET_SLOT(child, off_children)) > 0) {
                if (len == cap) {
                    Py_ssize_t ncap = cap * 2;
                    PyObject **nw =
                        PyMem_Realloc(work, ncap * 2 * sizeof(PyObject *));
                    if (nw == NULL) {
                        PyErr_NoMemory();
                        goto fail;
                    }
                    work = nw;
                    cap = ncap;
                }
                work[len * 2] = child;
                work[len * 2 + 1] = cc; /* borrowed: dchildren holds it */
                len++;
            }
        }
    }
    PyMem_Free(work);
    return root;
fail:
    PyMem_Free(work);
    Py_DECREF(root);
    return NULL;
}

/* ----------------------------------------------------- text_content ----- */

/* mirrors Node.text_content: all text of self + descendants in DOCUMENT
 * ORDER (own tail excluded, descendant tails included; a node's tail
 * comes after its whole subtree). */
static PyObject *
chtml_text_content(PyObject *self, PyObject *arg)
{
    (void)self;
    if (node_type == NULL) {
        PyErr_SetString(PyExc_RuntimeError, "_chtml.setup() not called");
        return NULL;
    }
    if (!PyObject_TypeCheck(arg, node_type)) {
        PyErr_SetString(PyExc_TypeError, "text_content() expects a Node");
        return NULL;
    }
    PyObject *parts = PyList_New(0);
    if (parts == NULL)
        return NULL;
    if (PyList_Append(parts, GET_SLOT(arg, off_text)) < 0)
        goto fail;
    /* work stack: entries are either Node* (visit) or str* (emit) —
     * exactly the Python algorithm; borrowed refs (tree alive via arg) */
    Py_ssize_t cap = 64, len = 0;
    PyObject **stack = PyMem_Malloc(cap * sizeof(PyObject *));
    if (stack == NULL) {
        PyErr_NoMemory();
        goto fail;
    }
    PyObject *children = GET_SLOT(arg, off_children);
    Py_ssize_t nch = PyList_GET_SIZE(children);
    for (Py_ssize_t k = nch - 1; k >= 0; k--) {
        stack[len++] = PyList_GET_ITEM(children, k);
        if (len == cap) {
            cap *= 2;
            PyObject **ns = PyMem_Realloc(stack, cap * sizeof(PyObject *));
            if (ns == NULL) {
                PyMem_Free(stack);
                PyErr_NoMemory();
                goto fail;
            }
            stack = ns;
        }
    }
    while (len > 0) {
        PyObject *item = stack[--len];
        if (PyUnicode_Check(item)) { /* emit-later tail marker */
            if (PyList_Append(parts, item) < 0) {
                PyMem_Free(stack);
                goto fail;
            }
            continue;
        }
        if (PyList_Append(parts, GET_SLOT(item, off_text)) < 0) {
            PyMem_Free(stack);
            goto fail;
        }
        PyObject *tail = GET_SLOT(item, off_tail);
        int push_tail = PyUnicode_GET_LENGTH(tail) > 0;
        children = GET_SLOT(item, off_children);
        nch = PyList_GET_SIZE(children);
        Py_ssize_t need = len + nch + (push_tail ? 1 : 0);
        if (need >= cap) {
            while (cap <= need)
                cap *= 2;
            PyObject **ns = PyMem_Realloc(stack, cap * sizeof(PyObject *));
            if (ns == NULL) {
                PyMem_Free(stack);
                PyErr_NoMemory();
                goto fail;
            }
            stack = ns;
        }
        if (push_tail)
            stack[len++] = tail;
        for (Py_ssize_t k = nch - 1; k >= 0; k--)
            stack[len++] = PyList_GET_ITEM(children, k);
    }
    PyMem_Free(stack);
    PyObject *joined = PyUnicode_Join(c_empty, parts);
    Py_DECREF(parts);
    return joined;
fail:
    Py_DECREF(parts);
    return NULL;
}

/* --------------------------------------------------------- find_all ----- */

/* mirror the pure-Python `tag in set(tags)` membership semantics for the
 * user-supplied filter tuple: non-str entries can never equal a (str) tag
 * so they are dropped, and unhashable entries raise TypeError exactly as
 * set(tags) would.  str_eq may then assume str operands.  Returns a new
 * tuple (possibly empty — which must mean "match nothing", NOT "match
 * all") or NULL with an exception set. */
static PyObject *
filter_str_tags(PyObject *tags)
{
    Py_ssize_t n = PyTuple_GET_SIZE(tags);
    PyObject *lst = PyList_New(0);
    if (lst == NULL)
        return NULL;
    for (Py_ssize_t i = 0; i < n; i++) {
        PyObject *e = PyTuple_GET_ITEM(tags, i);
        if (PyUnicode_Check(e)) {
            if (PyList_Append(lst, e) < 0) {
                Py_DECREF(lst);
                return NULL;
            }
        }
        else if (PyObject_Hash(e) == -1) {
            Py_DECREF(lst);
            return NULL; /* unhashable: TypeError, like set(tags) */
        }
    }
    PyObject *out = PyList_AsTuple(lst);
    Py_DECREF(lst);
    return out;
}

/* mirrors Node.find_all: pre-order descendants (excluding self), filtered
 * by the tags tuple (empty tuple = all). */
static PyObject *
chtml_find_all(PyObject *self, PyObject *args)
{
    (void)self;
    PyObject *node, *tags;
    if (!PyArg_ParseTuple(args, "OO!", &node, &PyTuple_Type, &tags))
        return NULL;
    if (node_type == NULL || !PyObject_TypeCheck(node, node_type)) {
        PyErr_SetString(PyExc_TypeError, "find_all() expects a Node");
        return NULL;
    }
    Py_ssize_t ntags = PyTuple_GET_SIZE(tags);
    PyObject *tags_f = NULL;
    if (ntags > 0) {
        tags_f = filter_str_tags(tags);
        if (tags_f == NULL)
            return NULL;
        tags = tags_f; /* possibly empty: then nothing matches */
    }
    PyObject *out = PyList_New(0);
    if (out == NULL) {
        Py_XDECREF(tags_f);
        return NULL;
    }
    PyObject *children = GET_SLOT(node, off_children);
    Py_ssize_t nch = PyList_GET_SIZE(children);
    Py_ssize_t cap = (nch + 1 > 64) ? nch + 1 : 64, len = 0;
    PyObject **stack = PyMem_Malloc(cap * sizeof(PyObject *));
    if (stack == NULL) {
        Py_XDECREF(tags_f);
        Py_DECREF(out);
        PyErr_NoMemory();
        return NULL;
    }
    Py_ssize_t nmatch = PyTuple_GET_SIZE(tags); /* filtered count */
    for (Py_ssize_t k = nch - 1; k >= 0; k--)
        stack[len++] = PyList_GET_ITEM(children, k);
    while (len > 0) {
        PyObject *cur = stack[--len];
        int match;
        if (ntags == 0)
            match = 1;
        else {
            match = 0;
            PyObject *t = GET_SLOT(cur, off_tag);
            for (Py_ssize_t k = 0; k < nmatch; k++) {
                if (str_eq(t, PyTuple_GET_ITEM(tags, k))) {
                    match = 1;
                    break;
                }
            }
        }
        if (match && PyList_Append(out, cur) < 0) {
            PyMem_Free(stack);
            Py_XDECREF(tags_f);
            Py_DECREF(out);
            return NULL;
        }
        children = GET_SLOT(cur, off_children);
        nch = PyList_GET_SIZE(children);
        if (nch > 0) {
            if (len + nch >= cap) {
                while (cap <= len + nch)
                    cap *= 2;
                PyObject **ns =
                    PyMem_Realloc(stack, cap * sizeof(PyObject *));
                if (ns == NULL) {
                    PyMem_Free(stack);
                    Py_XDECREF(tags_f);
                    Py_DECREF(out);
                    PyErr_NoMemory();
                    return NULL;
                }
                stack = ns;
            }
            for (Py_ssize_t k = nch - 1; k >= 0; k--)
                stack[len++] = PyList_GET_ITEM(children, k);
        }
    }
    PyMem_Free(stack);
    Py_XDECREF(tags_f);
    return out;
}

/* ------------------------------------------------------- tree iterator -- */

/* C replacement for Node.iter/iterdesc generators.  Replicates the lazy
 * semantics exactly: a yielded node's children are read AFTER the consumer
 * resumes (so surgery on the just-yielded node is visible, matching the
 * Python generators), while a filtered-out node's children are read
 * immediately.  The stack holds STRONG refs (the generator's list does
 * too): a consumer may detach the subtree mid-iteration. */
typedef struct {
    PyObject_HEAD
    PyObject **stack; /* owned refs */
    Py_ssize_t len, cap;
    PyObject *want;    /* tuple of tags or NULL for all */
    PyObject *pending; /* last yielded node whose children are unread */
} TreeIter;

static void
treeiter_dealloc(TreeIter *it)
{
    PyObject_GC_UnTrack(it);
    for (Py_ssize_t i = 0; i < it->len; i++)
        Py_DECREF(it->stack[i]);
    PyMem_Free(it->stack);
    Py_XDECREF(it->want);
    Py_XDECREF(it->pending);
    PyObject_GC_Del(it);
}

static int
treeiter_traverse(TreeIter *it, visitproc visit, void *arg)
{
    for (Py_ssize_t i = 0; i < it->len; i++)
        Py_VISIT(it->stack[i]);
    Py_VISIT(it->want);
    Py_VISIT(it->pending);
    return 0;
}

static int
treeiter_push_children(TreeIter *it, PyObject *node)
{
    PyObject *children = GET_SLOT(node, off_children);
    Py_ssize_t nch = PyList_GET_SIZE(children);
    if (nch == 0)
        return 0;
    if (it->len + nch > it->cap) {
        Py_ssize_t ncap = it->cap;
        while (ncap < it->len + nch)
            ncap *= 2;
        PyObject **ns = PyMem_Realloc(it->stack, ncap * sizeof(PyObject *));
        if (ns == NULL) {
            PyErr_NoMemory();
            return -1;
        }
        it->stack = ns;
        it->cap = ncap;
    }
    for (Py_ssize_t k = nch - 1; k >= 0; k--) {
        PyObject *c = PyList_GET_ITEM(children, k);
        Py_INCREF(c);
        it->stack[it->len++] = c;
    }
    return 0;
}

static PyObject *
treeiter_next(TreeIter *it)
{
    if (it->pending != NULL) {
        PyObject *p = it->pending;
        it->pending = NULL;
        int r = treeiter_push_children(it, p);
        Py_DECREF(p);
        if (r < 0)
            return NULL;
    }
    while (it->len > 0) {
        PyObject *node = it->stack[--it->len]; /* transfer: we own it */
        int match = 1;
        if (it->want != NULL) {
            match = 0;
            PyObject *t = GET_SLOT(node, off_tag);
            Py_ssize_t nt = PyTuple_GET_SIZE(it->want);
            for (Py_ssize_t k = 0; k < nt; k++) {
                if (str_eq(t, PyTuple_GET_ITEM(it->want, k))) {
                    match = 1;
                    break;
                }
            }
        }
        if (match) {
            Py_INCREF(node);
            it->pending = node; /* children read on next resume */
            return node;        /* owned ref to caller */
        }
        int r = treeiter_push_children(it, node);
        Py_DECREF(node);
        if (r < 0)
            return NULL;
    }
    return NULL; /* StopIteration */
}

static PyTypeObject TreeIter_Type = {
    PyVarObject_HEAD_INIT(NULL, 0).tp_name = "_chtml.TreeIter",
    .tp_basicsize = sizeof(TreeIter),
    .tp_dealloc = (destructor)treeiter_dealloc,
    .tp_flags = Py_TPFLAGS_DEFAULT | Py_TPFLAGS_HAVE_GC,
    .tp_traverse = (traverseproc)treeiter_traverse,
    .tp_iter = PyObject_SelfIter,
    .tp_iternext = (iternextfunc)treeiter_next,
};

/* iter_tree(node, tags: tuple, include_self: bool) -> iterator */
static PyObject *
chtml_iter_tree(PyObject *self, PyObject *args)
{
    (void)self;
    PyObject *node, *tags;
    int include_self;
    if (!PyArg_ParseTuple(args, "OO!p", &node, &PyTuple_Type, &tags,
                          &include_self))
        return NULL;
    if (node_type == NULL || !PyObject_TypeCheck(node, node_type)) {
        PyErr_SetString(PyExc_TypeError, "iter_tree() expects a Node");
        return NULL;
    }
    TreeIter *it = PyObject_GC_New(TreeIter, &TreeIter_Type);
    if (it == NULL)
        return NULL;
    it->len = 0;
    it->cap = 64;
    it->want = NULL;
    it->pending = NULL;
    it->stack = PyMem_Malloc(it->cap * sizeof(PyObject *));
    if (it->stack == NULL) {
        Py_DECREF(it);
        PyErr_NoMemory();
        return NULL;
    }
    if (PyTuple_GET_SIZE(tags) > 0) {
        /* an empty FILTERED tuple means "match nothing" (want stays
         * non-NULL), distinct from an empty ORIGINAL tuple (match all,
         * want == NULL) */
        it->want = filter_str_tags(tags);
        if (it->want == NULL) {
            PyMem_Free(it->stack);
            it->stack = NULL;
            PyObject_GC_Del(it);
            return NULL;
        }
    }
    if (include_self) {
        /* matches Node.iter: self first, then descendants — implemented
         * by seeding the stack with self (children then read lazily) */
        Py_INCREF(node);
        it->stack[it->len++] = node;
    }
    else {
        /* matches Node.iterdesc's generator laziness: self.children are
         * read at the FIRST next() call, not at generator creation —
         * `pending` defers exactly that read */
        Py_INCREF(node);
        it->pending = node;
    }
    PyObject_GC_Track(it);
    return (PyObject *)it;
}

/* ------------------------------------------------- cleaning copy walk -- */

/* does `node` have a descendant (self excluded) with tag `want`?
 * -1 on error.  Mirrors Node.find(tag) is not None. */
static int
has_desc_tag(PyObject *node, PyObject *want)
{
    PyObject *children = GET_SLOT(node, off_children);
    Py_ssize_t nch = PyList_GET_SIZE(children);
    if (nch == 0)
        return 0;
    Py_ssize_t cap = (nch > 64) ? nch : 64, len = 0;
    PyObject **stack = PyMem_Malloc(cap * sizeof(PyObject *));
    if (stack == NULL) {
        PyErr_NoMemory();
        return -1;
    }
    for (Py_ssize_t k = nch - 1; k >= 0; k--)
        stack[len++] = PyList_GET_ITEM(children, k);
    while (len > 0) {
        PyObject *cur = stack[--len];
        if (str_eq(GET_SLOT(cur, off_tag), want)) {
            PyMem_Free(stack);
            return 1;
        }
        children = GET_SLOT(cur, off_children);
        nch = PyList_GET_SIZE(children);
        if (nch > 0) {
            if (len + nch > cap) {
                while (cap < len + nch)
                    cap *= 2;
                PyObject **ns = PyMem_Realloc(stack, cap * sizeof(PyObject *));
                if (ns == NULL) {
                    PyMem_Free(stack);
                    PyErr_NoMemory();
                    return -1;
                }
                stack = ns;
            }
            for (Py_ssize_t k = nch - 1; k >= 0; k--)
                stack[len++] = PyList_GET_ITEM(children, k);
        }
    }
    PyMem_Free(stack);
    return 0;
}

/* mirrors cleaning.clean_copy's sink(): merge s into dst's last text
 * position.  s borrowed; 0/-1. */
static int
sink_text(PyObject *dst, PyObject *s)
{
    if (!PyUnicode_Check(s)) {
        /* parser invariant is str; a caller-mutated non-str slot takes
         * the Python sink's path: falsy skips, truthy raises (+=) */
        int t = PyObject_IsTrue(s);
        if (t < 0)
            return -1;
        if (!t)
            return 0;
        PyErr_SetString(PyExc_TypeError, "Node text/tail must be str");
        return -1;
    }
    if (PyUnicode_GET_LENGTH(s) == 0)
        return 0;
    PyObject *children = GET_SLOT(dst, off_children);
    Py_ssize_t n = PyList_GET_SIZE(children);
    PyObject *target;
    Py_ssize_t off;
    if (n > 0) {
        target = PyList_GET_ITEM(children, n - 1);
        off = off_tail;
    }
    else {
        target = dst;
        off = off_text;
    }
    PyObject *old = GET_SLOT(target, off);
    if (PyUnicode_GET_LENGTH(old) == 0) {
        Py_INCREF(s);
        SET_SLOT(target, off, s);
        Py_DECREF(old);
    }
    else {
        PyObject *cat = PyUnicode_Concat(old, s);
        if (cat == NULL)
            return -1;
        SET_SLOT(target, off, cat);
        Py_DECREF(old);
    }
    return 0;
}

/* clone_shallow with an explicit tag (borrowed; lets the figure->div
 * retag ride the clone). */
static PyObject *
clone_shallow_tag(PyObject *src, PyObject *parent, PyObject *tag)
{
    PyObject *attrs = PyDict_Copy(GET_SLOT(src, off_attrs));
    if (attrs == NULL)
        return NULL;
    PyObject *n = node_type->tp_alloc(node_type, 0);
    if (n == NULL) {
        Py_DECREF(attrs);
        return NULL;
    }
    PyObject *children = PyList_New(0);
    if (children == NULL) {
        Py_DECREF(attrs);
        Py_DECREF(n);
        return NULL;
    }
    PyObject *v;
    Py_INCREF(tag);
    SET_SLOT(n, off_tag, tag);
    SET_SLOT(n, off_attrs, attrs);
    SET_SLOT(n, off_children, children);
    if (parent == NULL)
        parent = Py_None;
    Py_INCREF(parent);
    SET_SLOT(n, off_parent, parent);
    v = GET_SLOT(src, off_text);
    Py_INCREF(v);
    SET_SLOT(n, off_text, v);
    v = GET_SLOT(src, off_tail);
    Py_INCREF(v);
    SET_SLOT(n, off_tail, v);
    return n;
}

typedef struct {
    PyObject *src;        /* borrowed (source tree keeps alive) */
    Py_ssize_t idx;
    PyObject *tail_owner; /* borrowed or NULL: strip child whose tail
                           * sinks after its children are emitted */
} CFrame;

/* clean_copy_emit(tree, strip_set, delete_set, retag_figures) -> Node
 *
 * The emit walk of operators/cleaning.clean_copy (everything before
 * prune_html), semantics-exact: strip-set tags are replaced by their
 * children with text/tail merged into the surrounding text positions;
 * delete-set tags vanish with their subtree (tail merged); a <figure>
 * containing a <table> is retagged to div BEFORE the delete-set check
 * when retag_figures.  Fully iterative: no RecursionError fallback
 * needed for adversarial strip nesting. */
static PyObject *
chtml_clean_copy(PyObject *self, PyObject *args)
{
    (void)self;
    PyObject *tree, *strip_set, *delete_set;
    int retag;
    if (!PyArg_ParseTuple(args, "OOOp", &tree, &strip_set, &delete_set,
                          &retag))
        return NULL;
    if (node_type == NULL || !PyObject_TypeCheck(tree, node_type)) {
        PyErr_SetString(PyExc_TypeError, "clean_copy_emit() expects a Node");
        return NULL;
    }
    if (!PyAnySet_Check(strip_set) || !PyAnySet_Check(delete_set)) {
        PyErr_SetString(PyExc_TypeError, "clean_copy_emit() expects sets");
        return NULL;
    }
    PyObject *root = clone_shallow(tree, NULL);
    if (root == NULL)
        return NULL;
    Py_ssize_t wcap = 64, wlen = 0;
    PyObject **work = PyMem_Malloc(wcap * 2 * sizeof(PyObject *));
    if (work == NULL) {
        Py_DECREF(root);
        PyErr_NoMemory();
        return NULL;
    }
    Py_ssize_t fcap = 64;
    CFrame *frames = PyMem_Malloc(fcap * sizeof(CFrame));
    if (frames == NULL) {
        PyMem_Free(work);
        Py_DECREF(root);
        PyErr_NoMemory();
        return NULL;
    }
    work[0] = tree;
    work[1] = root;
    wlen = 1;
    while (wlen > 0) {
        wlen--;
        PyObject *src = work[wlen * 2];
        PyObject *dst = work[wlen * 2 + 1];
        Py_ssize_t flen = 1;
        frames[0].src = src;
        frames[0].idx = 0;
        frames[0].tail_owner = NULL;
        while (flen > 0) {
            CFrame *f = &frames[flen - 1];
            PyObject *children = GET_SLOT(f->src, off_children);
            if (f->idx >= PyList_GET_SIZE(children)) {
                if (f->tail_owner != NULL &&
                    sink_text(dst, GET_SLOT(f->tail_owner, off_tail)) < 0)
                    goto fail;
                flen--;
                continue;
            }
            PyObject *child = PyList_GET_ITEM(children, f->idx);
            f->idx++;
            PyObject *tag = GET_SLOT(child, off_tag);
            int r = PySet_Contains(strip_set, tag);
            if (r < 0)
                goto fail;
            if (r) {
                if (sink_text(dst, GET_SLOT(child, off_text)) < 0)
                    goto fail;
                if (flen == fcap) {
                    fcap *= 2;
                    CFrame *nf = PyMem_Realloc(frames, fcap * sizeof(CFrame));
                    if (nf == NULL) {
                        PyErr_NoMemory();
                        goto fail;
                    }
                    frames = nf;
                }
                frames[flen].src = child;
                frames[flen].idx = 0;
                frames[flen].tail_owner = child;
                flen++;
                continue;
            }
            if (retag && str_eq(tag, c_figure)) {
                int h = has_desc_tag(child, c_table);
                if (h < 0)
                    goto fail;
                if (h)
                    tag = c_div;
            }
            r = PySet_Contains(delete_set, tag);
            if (r < 0)
                goto fail;
            if (r) {
                if (sink_text(dst, GET_SLOT(child, off_tail)) < 0)
                    goto fail;
                continue;
            }
            PyObject *c = clone_shallow_tag(child, dst, tag);
            if (c == NULL)
                goto fail;
            if (PyList_Append(GET_SLOT(dst, off_children), c) < 0) {
                Py_DECREF(c);
                goto fail;
            }
            Py_DECREF(c); /* dst's children list holds it */
            if (PyList_GET_SIZE(GET_SLOT(child, off_children)) > 0) {
                if (wlen == wcap) {
                    wcap *= 2;
                    PyObject **nw =
                        PyMem_Realloc(work, wcap * 2 * sizeof(PyObject *));
                    if (nw == NULL) {
                        PyErr_NoMemory();
                        goto fail;
                    }
                    work = nw;
                }
                work[wlen * 2] = child;
                work[wlen * 2 + 1] = c; /* borrowed: dst holds it */
                wlen++;
            }
        }
    }
    PyMem_Free(work);
    PyMem_Free(frames);
    return root;
fail:
    PyMem_Free(work);
    PyMem_Free(frames);
    Py_DECREF(root);
    return NULL;
}

/* --------------------------------------------------- metadata index ---- */

/* metadata_index(tree, tags, date_tags, title_exact, date_subs, footer)
 * -> (buckets dict, title_classed, date_classed, license_containers)
 *
 * One pre-order walk (self excluded) replicating
 * operators/metadata._DocumentIndex.__init__: buckets by tag for the
 * tags tuple; any-tag nodes whose class EXACTLY equals a title_exact
 * entry; date_tags nodes whose lowercased class CONTAINS a date_subs
 * entry; license containers = <footer> tags plus <div>s whose raw
 * class or id contains `footer`. */
static PyObject *
chtml_metadata_index(PyObject *self, PyObject *args)
{
    (void)self;
    PyObject *tree, *tags, *date_tags, *title_exact, *date_subs, *footer;
    if (!PyArg_ParseTuple(args, "OO!O!O!O!U", &tree, &PyTuple_Type, &tags,
                          &PyTuple_Type, &date_tags, &PyTuple_Type,
                          &title_exact, &PyTuple_Type, &date_subs, &footer))
        return NULL;
    if (node_type == NULL || !PyObject_TypeCheck(tree, node_type)) {
        PyErr_SetString(PyExc_TypeError, "metadata_index() expects a Node");
        return NULL;
    }
    PyObject *buckets = NULL, *title_l = NULL, *date_l = NULL,
             *lic_l = NULL, *result = NULL;
    PyObject **stack = NULL;
    buckets = PyDict_New();
    if (buckets == NULL)
        goto fail;
    for (Py_ssize_t k = 0; k < PyTuple_GET_SIZE(tags); k++) {
        PyObject *lst = PyList_New(0);
        if (lst == NULL)
            goto fail;
        if (PyDict_SetItem(buckets, PyTuple_GET_ITEM(tags, k), lst) < 0) {
            Py_DECREF(lst);
            goto fail;
        }
        Py_DECREF(lst);
    }
    title_l = PyList_New(0);
    date_l = PyList_New(0);
    lic_l = PyList_New(0);
    if (title_l == NULL || date_l == NULL || lic_l == NULL)
        goto fail;
    PyObject *children = GET_SLOT(tree, off_children);
    Py_ssize_t nch = PyList_GET_SIZE(children);
    Py_ssize_t cap = (nch > 64) ? nch : 64, len = 0;
    stack = PyMem_Malloc(cap * sizeof(PyObject *));
    if (stack == NULL) {
        PyErr_NoMemory();
        goto fail;
    }
    for (Py_ssize_t k = nch - 1; k >= 0; k--)
        stack[len++] = PyList_GET_ITEM(children, k);
    while (len > 0) {
        PyObject *cur = stack[--len];
        PyObject *tag = GET_SLOT(cur, off_tag);
        PyObject *b = PyDict_GetItemWithError(buckets, tag);
        if (b == NULL && PyErr_Occurred())
            goto fail;
        if (b != NULL && PyList_Append(b, cur) < 0)
            goto fail;
        PyObject *attrs = GET_SLOT(cur, off_attrs);
        if (PyDict_GET_SIZE(attrs) > 0) {
            PyObject *cls = PyDict_GetItemWithError(attrs, c_class);
            if (cls == NULL && PyErr_Occurred())
                goto fail;
            if (cls != NULL && PyUnicode_Check(cls)) {
                for (Py_ssize_t k = 0;
                     k < PyTuple_GET_SIZE(title_exact); k++) {
                    if (str_eq(cls, PyTuple_GET_ITEM(title_exact, k))) {
                        if (PyList_Append(title_l, cur) < 0)
                            goto fail;
                        break;
                    }
                }
                int is_date_tag = 0;
                for (Py_ssize_t k = 0; k < PyTuple_GET_SIZE(date_tags);
                     k++) {
                    if (str_eq(tag, PyTuple_GET_ITEM(date_tags, k))) {
                        is_date_tag = 1;
                        break;
                    }
                }
                if (is_date_tag) {
                    PyObject *low =
                        lower_sub(cls, 0, PyUnicode_GET_LENGTH(cls));
                    if (low == NULL)
                        goto fail;
                    Py_ssize_t lowlen = PyUnicode_GET_LENGTH(low);
                    for (Py_ssize_t k = 0;
                         k < PyTuple_GET_SIZE(date_subs); k++) {
                        Py_ssize_t at = PyUnicode_Find(
                            low, PyTuple_GET_ITEM(date_subs, k), 0,
                            lowlen, 1);
                        if (at == -2) {
                            Py_DECREF(low);
                            goto fail;
                        }
                        if (at >= 0) {
                            if (PyList_Append(date_l, cur) < 0) {
                                Py_DECREF(low);
                                goto fail;
                            }
                            break;
                        }
                    }
                    Py_DECREF(low);
                }
            }
            if (str_eq(tag, c_div)) {
                int hit = 0;
                PyObject *v = (cls != NULL && PyUnicode_Check(cls))
                                  ? cls : c_empty;
                Py_ssize_t at = PyUnicode_Find(
                    v, footer, 0, PyUnicode_GET_LENGTH(v), 1);
                if (at == -2)
                    goto fail;
                hit = at >= 0;
                if (!hit) {
                    PyObject *idv = PyDict_GetItemWithError(attrs, c_id);
                    if (idv == NULL && PyErr_Occurred())
                        goto fail;
                    if (idv != NULL && PyUnicode_Check(idv)) {
                        at = PyUnicode_Find(idv, footer, 0,
                                            PyUnicode_GET_LENGTH(idv), 1);
                        if (at == -2)
                            goto fail;
                        hit = at >= 0;
                    }
                }
                if (hit && PyList_Append(lic_l, cur) < 0)
                    goto fail;
            }
        }
        if (str_eq(tag, footer) && PyList_Append(lic_l, cur) < 0)
            goto fail;
        children = GET_SLOT(cur, off_children);
        nch = PyList_GET_SIZE(children);
        if (nch > 0) {
            if (len + nch > cap) {
                while (cap < len + nch)
                    cap *= 2;
                PyObject **ns = PyMem_Realloc(stack, cap * sizeof(PyObject *));
                if (ns == NULL) {
                    PyErr_NoMemory();
                    goto fail;
                }
                stack = ns;
            }
            for (Py_ssize_t k = nch - 1; k >= 0; k--)
                stack[len++] = PyList_GET_ITEM(children, k);
        }
    }
    result = PyTuple_Pack(4, buckets, title_l, date_l, lic_l);
fail:
    PyMem_Free(stack);
    Py_XDECREF(buckets);
    Py_XDECREF(title_l);
    Py_XDECREF(date_l);
    Py_XDECREF(lic_l);
    return result;
}

/* bucket_by_tag(node, tags) -> dict {tag: [nodes]} — selectors._by_tag:
 * ONE pre-order walk (self excluded) bucketing descendants by tag,
 * document order within each bucket. */
static PyObject *
chtml_bucket_by_tag(PyObject *self, PyObject *args)
{
    (void)self;
    PyObject *tree, *tags;
    if (!PyArg_ParseTuple(args, "OO!", &tree, &PyTuple_Type, &tags))
        return NULL;
    if (node_type == NULL || !PyObject_TypeCheck(tree, node_type)) {
        PyErr_SetString(PyExc_TypeError, "bucket_by_tag() expects a Node");
        return NULL;
    }
    PyObject *buckets = PyDict_New();
    PyObject **stack = NULL;
    if (buckets == NULL)
        return NULL;
    for (Py_ssize_t k = 0; k < PyTuple_GET_SIZE(tags); k++) {
        PyObject *lst = PyList_New(0);
        if (lst == NULL)
            goto fail;
        if (PyDict_SetItem(buckets, PyTuple_GET_ITEM(tags, k), lst) < 0) {
            Py_DECREF(lst);
            goto fail;
        }
        Py_DECREF(lst);
    }
    PyObject *children = GET_SLOT(tree, off_children);
    Py_ssize_t nch = PyList_GET_SIZE(children);
    Py_ssize_t cap = (nch > 64) ? nch : 64, len = 0;
    stack = PyMem_Malloc(cap * sizeof(PyObject *));
    if (stack == NULL) {
        PyErr_NoMemory();
        goto fail;
    }
    for (Py_ssize_t k = nch - 1; k >= 0; k--)
        stack[len++] = PyList_GET_ITEM(children, k);
    while (len > 0) {
        PyObject *cur = stack[--len];
        PyObject *b = PyDict_GetItemWithError(buckets, GET_SLOT(cur, off_tag));
        if (b == NULL && PyErr_Occurred())
            goto fail;
        if (b != NULL && PyList_Append(b, cur) < 0)
            goto fail;
        children = GET_SLOT(cur, off_children);
        nch = PyList_GET_SIZE(children);
        if (nch > 0) {
            if (len + nch > cap) {
                while (cap < len + nch)
                    cap *= 2;
                PyObject **ns = PyMem_Realloc(stack, cap * sizeof(PyObject *));
                if (ns == NULL) {
                    PyErr_NoMemory();
                    goto fail;
                }
                stack = ns;
            }
            for (Py_ssize_t k = nch - 1; k >= 0; k--)
                stack[len++] = PyList_GET_ITEM(children, k);
        }
    }
    PyMem_Free(stack);
    return buckets;
fail:
    PyMem_Free(stack);
    Py_DECREF(buckets);
    return NULL;
}

/* table_hit(cache, patterns, s, anchored) -> bool — selectors._hit/_hit_m:
 * does s contain (anchored: start with) any pattern?  Verdicts memoized
 * in the caller-owned per-table cache dict, cleared wholesale at
 * selectors.TABLE_CACHE_MAX (the same per-cache bound the Python path
 * uses) so a long-lived worker stays bounded. */
#define TABLE_CACHE_MAX (1 << 13)

static PyObject *
chtml_table_hit(PyObject *self, PyObject *const *args, Py_ssize_t nargs)
{
    (void)self;
    if (nargs != 4 || !PyDict_Check(args[0]) || !PyTuple_Check(args[1]) ||
        !PyUnicode_Check(args[2])) {
        PyErr_SetString(PyExc_TypeError,
                        "table_hit(cache: dict, patterns: tuple, s: str, "
                        "anchored)");
        return NULL;
    }
    PyObject *cache = args[0], *patterns = args[1], *s = args[2];
    int anchored = PyObject_IsTrue(args[3]);
    if (anchored < 0)
        return NULL;
    PyObject *hit = PyDict_GetItemWithError(cache, s);
    if (hit != NULL) {
        Py_INCREF(hit);
        return hit;
    }
    if (PyErr_Occurred())
        return NULL;
    /* an EMPTY table mirrors the regex fallback's empty alternation
     * (re.compile('') matches every string, both search and match) —
     * without this the two paths diverge on a trimmed-to-nothing table */
    int found = PyTuple_GET_SIZE(patterns) == 0;
    Py_ssize_t slen = PyUnicode_GET_LENGTH(s);
    for (Py_ssize_t k = 0; k < PyTuple_GET_SIZE(patterns); k++) {
        PyObject *p = PyTuple_GET_ITEM(patterns, k);
        if (anchored) {
            Py_ssize_t r = PyUnicode_Tailmatch(s, p, 0, slen, -1);
            if (r < 0)
                return NULL;
            if (r) {
                found = 1;
                break;
            }
        }
        else {
            Py_ssize_t at = PyUnicode_Find(s, p, 0, slen, 1);
            if (at == -2)
                return NULL;
            if (at >= 0) {
                found = 1;
                break;
            }
        }
    }
    if (PyDict_GET_SIZE(cache) >= TABLE_CACHE_MAX)
        PyDict_Clear(cache);
    PyObject *v = found ? Py_True : Py_False;
    if (PyDict_SetItem(cache, s, v) < 0)
        return NULL;
    Py_INCREF(v);
    return v;
}

/* attr_pair(elem) -> (class_lower, id_lower) — selectors._class_id. */
static PyObject *
chtml_attr_pair(PyObject *self, PyObject *arg)
{
    (void)self;
    if (node_type == NULL || !PyObject_TypeCheck(arg, node_type)) {
        PyErr_SetString(PyExc_TypeError, "attr_pair() expects a Node");
        return NULL;
    }
    PyObject *attrs = GET_SLOT(arg, off_attrs);
    PyObject *out[2];
    PyObject *names[2] = {c_class, c_id};
    for (int k = 0; k < 2; k++) {
        PyObject *v = PyDict_GetItemWithError(attrs, names[k]);
        if (v == NULL) {
            if (PyErr_Occurred())
                goto fail;
            Py_INCREF(c_empty);
            out[k] = c_empty;
        }
        else if (PyUnicode_Check(v)) {
            out[k] = lower_sub(v, 0, PyUnicode_GET_LENGTH(v));
            if (out[k] == NULL)
                goto fail;
        }
        else {
            /* mirror str(v).lower() failure-free: non-str attr values do
             * not occur from the parser; fall back to Python semantics */
            PyObject *lw = PyObject_CallMethod(v, "lower", NULL);
            if (lw == NULL)
                goto fail;
            out[k] = lw;
        }
        continue;
    fail:
        if (k == 1)
            Py_DECREF(out[0]);
        return NULL;
    }
    PyObject *tup = PyTuple_Pack(2, out[0], out[1]);
    Py_DECREF(out[0]);
    Py_DECREF(out[1]);
    return tup;
}

/* --------------------------------------------- readability metrics ----- */

typedef struct {
    Py_ssize_t core, commas, links;
    char lead, trail;
} NMetrics;

/* one scan of s: non-ws codepoints, maximal non-ws runs, commas,
 * boundary whitespace flags (str.split() / str.count(',') semantics).
 * Caller guarantees len(s) > 0. */
static void
scan_text(PyObject *s, Py_ssize_t *nonws, Py_ssize_t *runs,
          Py_ssize_t *commas, int *lead, int *trail)
{
    Py_ssize_t n = PyUnicode_GET_LENGTH(s);
    int kind = PyUnicode_KIND(s);
    const void *data = PyUnicode_DATA(s);
    Py_ssize_t nw = 0, r = 0, cm = 0;
    int in_run = 0;
    for (Py_ssize_t i = 0; i < n; i++) {
        Py_UCS4 ch = PyUnicode_READ(kind, data, i);
        if (Py_UNICODE_ISSPACE(ch))
            in_run = 0;
        else {
            if (!in_run) {
                r++;
                in_run = 1;
            }
            nw++;
            if (ch == ',')
                cm++;
        }
    }
    *nonws = nw;
    *runs = r;
    *commas = cm;
    *lead = Py_UNICODE_ISSPACE(PyUnicode_READ(kind, data, 0)) ? 1 : 0;
    *trail = Py_UNICODE_ISSPACE(PyUnicode_READ(kind, data, n - 1)) ? 1 : 0;
}

/* collect_metrics(root) -> dict  {id(node): (trim_len, lead_ws, trail_ws,
 * comma_count, link_core_incl_self)} — readability._collect_metrics's
 * post-order trim-length monoid fold, value-exact. */
static PyObject *
chtml_collect_metrics(PyObject *self, PyObject *arg)
{
    (void)self;
    if (node_type == NULL || !PyObject_TypeCheck(arg, node_type)) {
        PyErr_SetString(PyExc_TypeError, "collect_metrics() expects a Node");
        return NULL;
    }
    /* BFS order array (borrowed refs) + first-child index bookkeeping */
    Py_ssize_t cap = 256, n = 0;
    PyObject **order = PyMem_Malloc(cap * sizeof(PyObject *));
    Py_ssize_t *firstch = PyMem_Malloc(cap * sizeof(Py_ssize_t));
    if (order == NULL || firstch == NULL) {
        PyMem_Free(order);
        PyMem_Free(firstch);
        PyErr_NoMemory();
        return NULL;
    }
    order[n++] = arg;
    for (Py_ssize_t i = 0; i < n; i++) {
        PyObject *children = GET_SLOT(order[i], off_children);
        Py_ssize_t nch = PyList_GET_SIZE(children);
        firstch[i] = n;
        if (nch > 0) {
            if (n + nch > cap) {
                while (cap < n + nch)
                    cap *= 2;
                PyObject **no = PyMem_Realloc(order, cap * sizeof(PyObject *));
                Py_ssize_t *nf =
                    PyMem_Realloc(firstch, cap * sizeof(Py_ssize_t));
                if (no != NULL)
                    order = no;
                if (nf != NULL)
                    firstch = nf;
                if (no == NULL || nf == NULL) {
                    PyMem_Free(order);
                    PyMem_Free(firstch);
                    PyErr_NoMemory();
                    return NULL;
                }
            }
            for (Py_ssize_t k = 0; k < nch; k++)
                order[n++] = PyList_GET_ITEM(children, k);
        }
    }
    NMetrics *vals = PyMem_Malloc(n * sizeof(NMetrics));
    if (vals == NULL) {
        PyMem_Free(order);
        PyMem_Free(firstch);
        PyErr_NoMemory();
        return NULL;
    }
    PyObject *out = PyDict_New();
    if (out == NULL)
        goto fail;
    for (Py_ssize_t i = n - 1; i >= 0; i--) {
        PyObject *node = order[i];
        Py_ssize_t core, commas, links = 0;
        int lead, trail;
        PyObject *t = GET_SLOT(node, off_text);
        if (!PyUnicode_Check(t)) {
            /* `if t:` in the Python fold: falsy non-str == empty;
             * truthy non-str would raise at t.split() — mirror that */
            int tt = PyObject_IsTrue(t);
            if (tt < 0)
                goto fail;
            if (tt) {
                PyErr_SetString(PyExc_TypeError,
                                "Node text/tail must be str");
                goto fail;
            }
            t = c_empty;
        }
        if (PyUnicode_GET_LENGTH(t) > 0) {
            Py_ssize_t nw, runs;
            scan_text(t, &nw, &runs, &commas, &lead, &trail);
            if (runs > 0)
                core = nw + runs - 1;
            else {
                core = 0;
                lead = trail = 1;
            }
        }
        else {
            core = commas = 0;
            lead = trail = 0;
        }
        PyObject *children = GET_SLOT(node, off_children);
        Py_ssize_t nch = PyList_GET_SIZE(children);
        Py_ssize_t base = firstch[i];
        for (Py_ssize_t k = 0; k < nch; k++) {
            NMetrics *cm = &vals[base + k];
            commas += cm->commas;
            links += cm->links;
            if (cm->core) {
                if (core)
                    core += cm->core + ((trail || cm->lead) ? 1 : 0);
                else {
                    lead = lead || cm->lead;
                    core = cm->core;
                }
                trail = cm->trail;
            }
            else if (cm->lead) {
                trail = 1;
                if (!core)
                    lead = 1;
            }
            PyObject *tail =
                GET_SLOT(PyList_GET_ITEM(children, k), off_tail);
            if (!PyUnicode_Check(tail)) {
                int tt = PyObject_IsTrue(tail);
                if (tt < 0)
                    goto fail;
                if (tt) {
                    PyErr_SetString(PyExc_TypeError,
                                    "Node text/tail must be str");
                    goto fail;
                }
                tail = c_empty;
            }
            if (PyUnicode_GET_LENGTH(tail) > 0) {
                Py_ssize_t nw, runs, tcm;
                int tl, tt;
                scan_text(tail, &nw, &runs, &tcm, &tl, &tt);
                if (runs > 0) {
                    Py_ssize_t tc = nw + runs - 1;
                    if (core)
                        core += tc + ((trail || tl) ? 1 : 0);
                    else {
                        lead = lead || tl;
                        core = tc;
                    }
                    trail = tt;
                    commas += tcm;
                }
                else {
                    trail = 1;
                    if (!core)
                        lead = 1;
                }
            }
        }
        if (str_eq(GET_SLOT(node, off_tag), c_a))
            links += core;
        vals[i].core = core;
        vals[i].commas = commas;
        vals[i].links = links;
        vals[i].lead = (char)lead;
        vals[i].trail = (char)trail;
        PyObject *key = PyLong_FromVoidPtr(node);
        if (key == NULL)
            goto fail;
        PyObject *tup = Py_BuildValue(
            "(nOOnn)", core, lead ? Py_True : Py_False,
            trail ? Py_True : Py_False, commas, links);
        if (tup == NULL) {
            Py_DECREF(key);
            goto fail;
        }
        int r = PyDict_SetItem(out, key, tup);
        Py_DECREF(key);
        Py_DECREF(tup);
        if (r < 0)
            goto fail;
    }
    PyMem_Free(order);
    PyMem_Free(firstch);
    PyMem_Free(vals);
    return out;
fail:
    PyMem_Free(order);
    PyMem_Free(firstch);
    PyMem_Free(vals);
    Py_XDECREF(out);
    return NULL;
}

/* -------------------------------------------- readability tree passes -- */

/* divs_to_rename(doc, vocab) -> list — readability._transform_misused_divs
 * marking pass: every <div> with NO strict descendant whose tag is in
 * the block vocabulary (the divs the Python pass renames to <p>),
 * document order. */
static PyObject *
chtml_divs_to_rename(PyObject *self, PyObject *args)
{
    (void)self;
    PyObject *tree, *vocab;
    if (!PyArg_ParseTuple(args, "OO!", &tree, &PyTuple_Type, &vocab))
        return NULL;
    if (node_type == NULL || !PyObject_TypeCheck(tree, node_type)) {
        PyErr_SetString(PyExc_TypeError, "divs_to_rename() expects a Node");
        return NULL;
    }
    /* BFS order + first-child bookkeeping (same shape as collect_metrics) */
    Py_ssize_t cap = 256, n = 0;
    PyObject **order = PyMem_Malloc(cap * sizeof(PyObject *));
    Py_ssize_t *firstch = PyMem_Malloc(cap * sizeof(Py_ssize_t));
    if (order == NULL || firstch == NULL) {
        PyMem_Free(order);
        PyMem_Free(firstch);
        PyErr_NoMemory();
        return NULL;
    }
    order[n++] = tree;
    for (Py_ssize_t i = 0; i < n; i++) {
        PyObject *children = GET_SLOT(order[i], off_children);
        Py_ssize_t nch = PyList_GET_SIZE(children);
        firstch[i] = n;
        if (nch > 0) {
            if (n + nch > cap) {
                while (cap < n + nch)
                    cap *= 2;
                PyObject **no = PyMem_Realloc(order, cap * sizeof(PyObject *));
                Py_ssize_t *nf =
                    PyMem_Realloc(firstch, cap * sizeof(Py_ssize_t));
                if (no != NULL)
                    order = no;
                if (nf != NULL)
                    firstch = nf;
                if (no == NULL || nf == NULL) {
                    PyMem_Free(order);
                    PyMem_Free(firstch);
                    PyErr_NoMemory();
                    return NULL;
                }
            }
            for (Py_ssize_t k = 0; k < nch; k++)
                order[n++] = PyList_GET_ITEM(children, k);
        }
    }
    char *below = PyMem_Malloc(n ? n : 1);
    if (below == NULL) {
        PyMem_Free(order);
        PyMem_Free(firstch);
        PyErr_NoMemory();
        return NULL;
    }
    Py_ssize_t nv = PyTuple_GET_SIZE(vocab);
    for (Py_ssize_t i = n - 1; i >= 0; i--) {
        PyObject *children = GET_SLOT(order[i], off_children);
        Py_ssize_t nch = PyList_GET_SIZE(children);
        Py_ssize_t base = firstch[i];
        char b = 0;
        for (Py_ssize_t k = 0; k < nch && !b; k++) {
            if (below[base + k])
                b = 1;
            else {
                PyObject *t = GET_SLOT(PyList_GET_ITEM(children, k), off_tag);
                for (Py_ssize_t v = 0; v < nv; v++) {
                    if (str_eq(t, PyTuple_GET_ITEM(vocab, v))) {
                        b = 1;
                        break;
                    }
                }
            }
        }
        below[i] = b;
    }
    PyObject *out = PyList_New(0);
    if (out == NULL)
        goto done;
    /* document order = pre-order; BFS order differs, so re-walk pre-order
     * checking the computed flags via an index map…  simpler: find_all
     * order == pre-order, but we have flags by BFS index.  Walk the BFS
     * array is NOT document order; instead do one pre-order pass with an
     * id->flag hash?  Avoid: renames are order-insensitive (each rename
     * touches only its own node), and the Python pass's find_all("div")
     * order only affects list order, which the caller loops over
     * without order-dependent effects.  STILL: keep exact parity with
     * the Python list by emitting in pre-order via a second walk over
     * firstch (depth-first using an explicit index stack). */
    {
        Py_ssize_t *stk = PyMem_Malloc((n ? n : 1) * sizeof(Py_ssize_t));
        Py_ssize_t sl = 0;
        if (stk == NULL) {
            Py_DECREF(out);
            out = NULL;
            PyErr_NoMemory();
            goto done;
        }
        /* push root's children in reverse (pre-order, self excluded —
         * the root is the document node, never a div) */
        {
            PyObject *children = GET_SLOT(order[0], off_children);
            Py_ssize_t nch = PyList_GET_SIZE(children);
            for (Py_ssize_t k = nch - 1; k >= 0; k--)
                stk[sl++] = firstch[0] + k;
        }
        while (sl > 0) {
            Py_ssize_t i = stk[--sl];
            PyObject *node = order[i];
            if (!below[i] && str_eq(GET_SLOT(node, off_tag), c_div)) {
                if (PyList_Append(out, node) < 0) {
                    PyMem_Free(stk);
                    Py_DECREF(out);
                    out = NULL;
                    goto done;
                }
            }
            PyObject *children = GET_SLOT(node, off_children);
            Py_ssize_t nch = PyList_GET_SIZE(children);
            for (Py_ssize_t k = nch - 1; k >= 0; k--)
                stk[sl++] = firstch[i] + k;
        }
        PyMem_Free(stk);
    }
done:
    PyMem_Free(order);
    PyMem_Free(firstch);
    PyMem_Free(below);
    return out;
}

/* brs_under_divs(doc) -> list — the <br>-under-a-div collection walk of
 * _transform_misused_divs (run AFTER the div renames), document order.
 * Depth counts enclosing divs below the document node. */
static PyObject *
chtml_brs_under_divs(PyObject *self, PyObject *arg)
{
    (void)self;
    if (node_type == NULL || !PyObject_TypeCheck(arg, node_type)) {
        PyErr_SetString(PyExc_TypeError, "brs_under_divs() expects a Node");
        return NULL;
    }
    PyObject *out = PyList_New(0);
    if (out == NULL)
        return NULL;
    PyObject *children = GET_SLOT(arg, off_children);
    Py_ssize_t nch = PyList_GET_SIZE(children);
    Py_ssize_t cap = (nch > 64) ? nch : 64, len = 0;
    typedef struct {
        PyObject *node;
        Py_ssize_t depth;
    } DEnt;
    DEnt *stack = PyMem_Malloc(cap * sizeof(DEnt));
    if (stack == NULL) {
        Py_DECREF(out);
        PyErr_NoMemory();
        return NULL;
    }
    for (Py_ssize_t k = nch - 1; k >= 0; k--) {
        stack[len].node = PyList_GET_ITEM(children, k);
        stack[len].depth = 0;
        len++;
    }
    while (len > 0) {
        DEnt e = stack[--len];
        PyObject *tag = GET_SLOT(e.node, off_tag);
        if (str_eq(tag, c_br)) {
            if (e.depth > 0 && PyList_Append(out, e.node) < 0)
                goto fail;
            continue; /* mirrors the Python elif: brs never descend */
        }
        children = GET_SLOT(e.node, off_children);
        nch = PyList_GET_SIZE(children);
        if (nch > 0) {
            Py_ssize_t d2 = e.depth + (str_eq(tag, c_div) ? 1 : 0);
            if (len + nch > cap) {
                while (cap < len + nch)
                    cap *= 2;
                DEnt *ns = PyMem_Realloc(stack, cap * sizeof(DEnt));
                if (ns == NULL) {
                    PyErr_NoMemory();
                    goto fail;
                }
                stack = ns;
            }
            for (Py_ssize_t k = nch - 1; k >= 0; k--) {
                stack[len].node = PyList_GET_ITEM(children, k);
                stack[len].depth = d2;
                len++;
            }
        }
    }
    PyMem_Free(stack);
    return out;
fail:
    PyMem_Free(stack);
    Py_DECREF(out);
    return NULL;
}

/* unlikely_walk(doc, verdicts, judge, frame_tags) -> list — the
 * _remove_unlikely_candidates walk: pre-order; nodes with a class or id
 * get a memoized drop verdict ((class, id) tuple key in the
 * caller-owned `verdicts` dict; `judge(key)` computes misses in
 * Python); a dropped node (verdict true, tag not in frame_tags) is
 * collected and its subtree skipped.  The caller applies drop_tree in
 * the returned document order — equivalent to dropping in-walk, since
 * both process disjoint subtrees in document order against the same
 * evolving tree state.  `judge` must not mutate or detach tree nodes:
 * the work stack holds borrowed node pointers. */
static PyObject *
chtml_unlikely_walk(PyObject *self, PyObject *args)
{
    (void)self;
    PyObject *tree, *verdicts, *judge, *frame_tags;
    if (!PyArg_ParseTuple(args, "OO!OO!", &tree, &PyDict_Type, &verdicts,
                          &judge, &PyTuple_Type, &frame_tags))
        return NULL;
    if (node_type == NULL || !PyObject_TypeCheck(tree, node_type)) {
        PyErr_SetString(PyExc_TypeError, "unlikely_walk() expects a Node");
        return NULL;
    }
    PyObject *out = PyList_New(0);
    if (out == NULL)
        return NULL;
    PyObject *children = GET_SLOT(tree, off_children);
    Py_ssize_t nch = PyList_GET_SIZE(children);
    Py_ssize_t cap = (nch > 64) ? nch : 64, len = 0;
    PyObject **stack = PyMem_Malloc(cap * sizeof(PyObject *));
    if (stack == NULL) {
        Py_DECREF(out);
        PyErr_NoMemory();
        return NULL;
    }
    for (Py_ssize_t k = nch - 1; k >= 0; k--)
        stack[len++] = PyList_GET_ITEM(children, k);
    while (len > 0) {
        PyObject *cur = stack[--len];
        PyObject *attrs = GET_SLOT(cur, off_attrs);
        PyObject *cls = NULL, *idv = NULL;
        if (PyDict_GET_SIZE(attrs) > 0) {
            cls = PyDict_GetItemWithError(attrs, c_class);
            if (cls == NULL && PyErr_Occurred())
                goto fail;
            idv = PyDict_GetItemWithError(attrs, c_id);
            if (idv == NULL && PyErr_Occurred())
                goto fail;
        }
        /* Python truthiness of the raw attr values: for str that is
         * len > 0, and a non-str value (never produced by the parser,
         * but Node attrs are public) takes the same PyObject_IsTrue
         * path the pure-Python `if key[0] or key[1]` does rather than
         * an unchecked PyUnicode_GET_LENGTH read */
        int has = 0;
        if (cls != NULL) {
            has = PyUnicode_Check(cls) ? (PyUnicode_GET_LENGTH(cls) > 0)
                                       : PyObject_IsTrue(cls);
            if (has < 0)
                goto fail;
        }
        if (!has && idv != NULL) {
            has = PyUnicode_Check(idv) ? (PyUnicode_GET_LENGTH(idv) > 0)
                                       : PyObject_IsTrue(idv);
            if (has < 0)
                goto fail;
        }
        if (has) {
            PyObject *key = PyTuple_Pack(2, cls ? cls : c_empty,
                                         idv ? idv : c_empty);
            if (key == NULL)
                goto fail;
            /* both branches leave one owned reference in `drop` */
            PyObject *drop = PyDict_GetItemWithError(verdicts, key);
            if (drop != NULL) {
                Py_INCREF(drop);
            } else {
                if (PyErr_Occurred()) {
                    Py_DECREF(key);
                    goto fail;
                }
                drop = PyObject_CallOneArg(judge, key);
                if (drop == NULL) {
                    Py_DECREF(key);
                    goto fail;
                }
                if (PyDict_SetItem(verdicts, key, drop) < 0) {
                    Py_DECREF(drop);
                    Py_DECREF(key);
                    goto fail;
                }
            }
            Py_DECREF(key);
            int truthy = PyObject_IsTrue(drop);
            Py_DECREF(drop);
            if (truthy < 0)
                goto fail;
            if (truthy) {
                PyObject *tag = GET_SLOT(cur, off_tag);
                int framed = 0;
                for (Py_ssize_t k = 0;
                     k < PyTuple_GET_SIZE(frame_tags); k++) {
                    if (str_eq(tag, PyTuple_GET_ITEM(frame_tags, k))) {
                        framed = 1;
                        break;
                    }
                }
                if (!framed) {
                    if (PyList_Append(out, cur) < 0)
                        goto fail;
                    continue; /* subtree skipped */
                }
            }
        }
        children = GET_SLOT(cur, off_children);
        nch = PyList_GET_SIZE(children);
        if (nch > 0) {
            if (len + nch > cap) {
                while (cap < len + nch)
                    cap *= 2;
                PyObject **ns = PyMem_Realloc(stack, cap * sizeof(PyObject *));
                if (ns == NULL) {
                    PyErr_NoMemory();
                    goto fail;
                }
                stack = ns;
            }
            for (Py_ssize_t k = nch - 1; k >= 0; k--)
                stack[len++] = PyList_GET_ITEM(children, k);
        }
    }
    PyMem_Free(stack);
    return out;
fail:
    PyMem_Free(stack);
    Py_DECREF(out);
    return NULL;
}

/* ---------------------------------------------------------------- setup */

static int
slot_offset(PyObject *type, const char *name, Py_ssize_t *out)
{
    PyObject *d = PyObject_GetAttrString(type, name);
    if (d == NULL)
        return -1;
    if (!Py_IS_TYPE(d, &PyMemberDescr_Type)) {
        Py_DECREF(d);
        PyErr_Format(PyExc_TypeError, "%s is not a slot descriptor", name);
        return -1;
    }
    *out = ((PyMemberDescrObject *)d)->d_member->offset;
    Py_DECREF(d);
    return 0;
}

static PyObject *
chtml_setup(PyObject *self, PyObject *args)
{
    (void)self;
    PyObject *nt, *sv, *pc, *pb, *ie, *hc, *ni, *gt, *un;
    if (!PyArg_ParseTuple(args, "OOOOOOOOO", &nt, &sv, &pc, &pb, &ie, &hc,
                          &ni, &gt, &un))
        return NULL;
    if (!PyType_Check(nt)) {
        PyErr_SetString(PyExc_TypeError, "setup: first arg must be a type");
        return NULL;
    }
    if (slot_offset(nt, "tag", &off_tag) < 0 ||
        slot_offset(nt, "attrs", &off_attrs) < 0 ||
        slot_offset(nt, "children", &off_children) < 0 ||
        slot_offset(nt, "parent", &off_parent) < 0 ||
        slot_offset(nt, "text", &off_text) < 0 ||
        slot_offset(nt, "tail", &off_tail) < 0)
        return NULL;
    Py_INCREF(nt);
    node_type = (PyTypeObject *)nt;
    Py_INCREF(sv);
    set_void = sv;
    Py_INCREF(pc);
    set_pclosers = pc;
    Py_INCREF(pb);
    set_pbarriers = pb;
    Py_INCREF(ie);
    map_implied = ie;
    Py_INCREF(hc);
    set_headcontent = hc;
    Py_INCREF(ni);
    set_needsimplied = ni;
    Py_INCREF(gt);
    set_gatetags = gt;
    Py_INCREF(un);
    unescape_fn = un;
    tagcache = PyDict_New();
    if (tagcache == NULL)
        return NULL;
    /* seed the cache so pointer-equality fast paths hit for the tags the
     * insertion-mode logic compares against */
    PyObject *seeds[] = {c_head, c_body, c_html, c_p, c_script, c_style,
                         c_table, c_tr, c_td, c_th, c_ul, c_ol, c_dl,
                         c_select};
    for (size_t k = 0; k < sizeof(seeds) / sizeof(seeds[0]); k++) {
        if (PyDict_SetItem(tagcache, seeds[k], seeds[k]) < 0)
            return NULL;
    }
    Py_RETURN_NONE;
}

static PyMethodDef chtml_methods[] = {
    {"setup", chtml_setup, METH_VARARGS,
     "setup(Node, VOID, P_CLOSERS, P_CLOSE_BARRIERS, IMPLIED_END, "
     "HEAD_CONTENT, NEEDS_IMPLIED, GATE_TAGS, unescape)"},
    {"parse", chtml_parse, METH_O,
     "parse(html: str) -> Node  (the '#root' node, _FastBuilder contract)"},
    {"copy_node", chtml_copy_node, METH_O,
     "copy_node(node) -> Node  (deep copy, Node.copy contract)"},
    {"text_content", chtml_text_content, METH_O,
     "text_content(node) -> str  (Node.text_content contract)"},
    {"find_all", chtml_find_all, METH_VARARGS,
     "find_all(node, tags: tuple) -> list  (Node.find_all contract)"},
    {"iter_tree", chtml_iter_tree, METH_VARARGS,
     "iter_tree(node, tags: tuple, include_self: bool) -> iterator "
     "(Node.iter/iterdesc contract incl. lazy child reads)"},
    {"clean_copy_emit", chtml_clean_copy, METH_VARARGS,
     "clean_copy_emit(node, strip_set, delete_set, retag_figures) -> Node "
     "(cleaning.clean_copy emit walk, pre-prune_html)"},
    {"metadata_index", chtml_metadata_index, METH_VARARGS,
     "metadata_index(node, tags, date_tags, title_exact, date_subs, "
     "footer) -> (buckets, title_classed, date_classed, license_containers)"},
    {"table_hit", (PyCFunction)(void (*)(void))chtml_table_hit,
     METH_FASTCALL,
     "table_hit(cache, patterns, s, anchored) -> bool  (selectors._hit/"
     "_hit_m contract: memoized contains-any / startswith-any)"},
    {"attr_pair", chtml_attr_pair, METH_O,
     "attr_pair(node) -> (class_lower, id_lower)  (selectors._class_id)"},
    {"bucket_by_tag", chtml_bucket_by_tag, METH_VARARGS,
     "bucket_by_tag(node, tags: tuple) -> dict  (selectors._by_tag "
     "contract: one pre-order walk, document order per bucket)"},
    {"collect_metrics", chtml_collect_metrics, METH_O,
     "collect_metrics(node) -> dict  (readability._collect_metrics "
     "contract: id(node) -> (core, lead, trail, commas, links))"},
    {"divs_to_rename", chtml_divs_to_rename, METH_VARARGS,
     "divs_to_rename(node, vocab: tuple) -> list  (divs with no block-"
     "vocab descendant, document order)"},
    {"brs_under_divs", chtml_brs_under_divs, METH_O,
     "brs_under_divs(node) -> list  (brs inside a div, document order)"},
    {"unlikely_walk", chtml_unlikely_walk, METH_VARARGS,
     "unlikely_walk(node, verdicts: dict, judge, frame_tags: tuple) -> "
     "list  (drop-candidates, subtrees skipped, document order)"},
    {NULL, NULL, 0, NULL}};

static struct PyModuleDef chtml_module = {
    PyModuleDef_HEAD_INIT, "_chtml",
    "C accelerator for trafilatura_spark.dom (tokenizer + deep copy)", -1,
    chtml_methods, NULL, NULL, NULL, NULL};

PyMODINIT_FUNC
PyInit__chtml(void)
{
    if (PyType_Ready(&TreeIter_Type) < 0)
        return NULL;
    PyObject *m = PyModule_Create(&chtml_module);
    if (m == NULL)
        return NULL;
#define MKSTR(var, lit)                                                       \
    do {                                                                      \
        var = PyUnicode_InternFromString(lit);                                \
        if (var == NULL)                                                      \
            return NULL;                                                      \
    } while (0)
    MKSTR(c_root, "#root");
    MKSTR(c_head, "head");
    MKSTR(c_body, "body");
    MKSTR(c_html, "html");
    MKSTR(c_p, "p");
    MKSTR(c_script, "script");
    MKSTR(c_style, "style");
    MKSTR(c_table, "table");
    MKSTR(c_tr, "tr");
    MKSTR(c_td, "td");
    MKSTR(c_th, "th");
    MKSTR(c_ul, "ul");
    MKSTR(c_ol, "ol");
    MKSTR(c_dl, "dl");
    MKSTR(c_select, "select");
    MKSTR(c_empty, "");
    MKSTR(c_lt, "<");
    MKSTR(c_arrow, "-->");
    MKSTR(c_figure, "figure");
    MKSTR(c_div, "div");
    MKSTR(c_a, "a");
    MKSTR(c_class, "class");
    MKSTR(c_id, "id");
    MKSTR(c_br, "br");
#undef MKSTR
    return m;
}
