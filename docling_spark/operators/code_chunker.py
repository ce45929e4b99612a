"""K6 — per-language code chunker (SURVEY.md §2.9; reference
transforms/chunker/code_chunking/_language_code_chunkers.py, tree-sitter
based, 1,664 LoC; standard_code_chunking_strategy.py routes by
CodeLanguageLabel).

Tree-sitter is not a dependency of this engine (same class of gap as the HF
tokenizer for the hybrid chunker); the reference's chunk-composition rules
(_language_code_chunkers.py:477-640) run on parsers that need no grammar:

- one chunk per function/method; its content prepends the imports the
  function actually uses (:558-576), the module variables it reads
  (:594-605), and for methods the class signature + class-level fields
  (:581-592), with the docstring HOISTED out of the content into chunk
  metadata (:607-611 — content carries `function_no_docstring`)
- classes with no methods chunk whole (:514-523)
- module-level code claimed by no chunk becomes per-gap "orphan"/preamble
  chunks (:526-529 via _RangeTracker.find_gaps); copyright/license
  comments are dropped (:533-540)
- metadata: part name, docstring, start/end line, signature end line
- oversized chunks split under a token budget (the `_ChunkSizeProcessor`
  role) with the SAME BPE-ish counter the hybrid chunker budgets with

Three row builders produce (part_name, chunk_type, start, end, sig_end,
docstring, content) rows over one `_Source` per document (its lines and a
bisect line index) and end in one `_finish` (gaps → preambles, sort):

- PYTHON on the stdlib `ast` parser — a full parser, not a heuristic.
- JAVA and JAVASCRIPT / TYPESCRIPT on one brace-tree composer
  (`_chunk_rows_brace_tree`): comment/string masking + a brace tree, walked
  with an explicit stack. A per-language `_BraceLang` holds only what
  differs: the import scanner, the package prefix, the top-level
  classifier, whether nested types are walked, and the constructor name
  (_JavaFunctionChunker :1434-1664, _TypeScriptFunctionChunker
  :1194-1278).
- C (and any other label) falls back to a documented brace-matching
  top-level function splitter (same output schema, no import/variable
  context).

Spark shape: one zero-shuffle Arrow map (`docmap.map_rows`) over (doc_id,
language, code), the same map the serializer sinks run in; chunking is a
per-document fold, so it partitions embarrassingly at 100 TB. A null `code`
is an empty file: no chunks.
"""

from __future__ import annotations

import ast
import re
from bisect import bisect_right
from itertools import accumulate
from typing import Callable, List, NamedTuple, Optional, Tuple

from docling_spark.docmap import map_rows
from docling_spark.operators.hybrid_chunker import _DocCounter

CODE_CHUNK_DDL = (
    "doc_id string, chunk_id int, part_name string, chunk_type string, "
    "start_line int, end_line int, signature_end_line int, "
    "docstring string, content string, n_tokens int"
)

_COPYRIGHT_WORDS = ("copyright", "license", "licensed under", "all rights reserved")


# ---------------------------------------------------------------------------
# shared by every row builder: the document's line index and the finish
# ---------------------------------------------------------------------------


class _Source:
    """One document's text, its lines and its line index."""

    __slots__ = ("code", "lines", "_starts")

    def __init__(self, code: str):
        self.code = code
        self.lines = code.split("\n")
        self._starts = list(accumulate((len(ln) + 1 for ln in self.lines[:-1]),
                                       initial=0))

    def line_of(self, pos: int) -> int:
        """1-based line of character offset `pos`."""
        return bisect_right(self._starts, pos)

    def seg(self, a: int, b: int) -> str:
        """1-based inclusive line slice."""
        return "\n".join(self.lines[a - 1 : b])


def _finish(src: _Source, rows: List[tuple],
            used: List[Tuple[int, int]]) -> List[tuple]:
    """Each run of non-blank lines outside every `used` range (1-based,
    inclusive) becomes a preamble chunk (find_gaps :70-85); rows sort by
    (start line, part name)."""
    n = len(src.lines)
    marks = [0] * (n + 2)
    for a, b in used:
        b = min(b, n)  # `ast` also ends lines at a bare '\r'
        if a <= b:
            marks[a] += 1
            marks[b + 1] -= 1
    depth = gap = 0
    for i, ln in enumerate(src.lines, 1):
        depth += marks[i]
        if not depth and ln.strip():
            gap = gap or i
        elif gap:
            rows.append(("", "preamble", gap, i - 1, gap, "", src.seg(gap, i - 1)))
            gap = 0
    if gap:
        rows.append(("", "preamble", gap, n, gap, "", src.seg(gap, n)))
    rows.sort(key=lambda r: (r[2], r[0]))
    return rows


# ---------------------------------------------------------------------------
# Python: the stdlib `ast` parser
# ---------------------------------------------------------------------------


def _py_imports(tree: ast.Module) -> dict:
    """alias/name → (start_line, end_line) of the import statement —
    mirrors _get_imports (:1099-1123: aliased imports register both the
    alias and the original name)."""
    out: dict = {}
    for node in tree.body:
        if isinstance(node, ast.Import):
            for al in node.names:
                out[(al.asname or al.name).split(".")[0]] = (node.lineno, node.end_lineno)
                out[al.name.split(".")[0]] = (node.lineno, node.end_lineno)
        elif isinstance(node, ast.ImportFrom):
            for al in node.names:
                out[al.asname or al.name] = (node.lineno, node.end_lineno)
                out[al.name] = (node.lineno, node.end_lineno)
    return out


def _py_module_vars(tree: ast.Module) -> dict:
    """name → (start_line, end_line) for top-level assignments
    (_get_module_variables :1125-1142)."""
    out: dict = {}
    for node in tree.body:
        if isinstance(node, ast.Assign):
            for tgt in node.targets:
                if isinstance(tgt, ast.Name):
                    out[tgt.id] = (node.lineno, node.end_lineno)
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            out[node.target.id] = (node.lineno, node.end_lineno)
    return out


def _py_used_names(node: ast.AST) -> set:
    return {n.id for n in ast.walk(node) if isinstance(n, ast.Name)}


def _py_sig_end(node) -> int:
    """Last line of the signature: the line before the first body stmt."""
    return (node.body[0].lineno - 1) if node.body else node.end_lineno


def _py_strip_docstring(node, src: _Source) -> str:
    """Function/class text with its docstring statement removed (the
    reference strips the docstring from content and carries it in meta)."""
    start = node.lineno
    if node.decorator_list:
        start = min(d.lineno for d in node.decorator_list)
    body = node.body
    if (body and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)):
        ds = body[0]
        pre = src.seg(start, ds.lineno - 1)
        post = src.seg(ds.end_lineno + 1, node.end_lineno)
        if len(body) == 1:  # docstring-only body must stay syntactically valid
            indent = " " * (ds.col_offset)
            post = f"{indent}pass" + (("\n" + post) if post else "")
        return pre + ("\n" + post if post else "")
    return src.seg(start, node.end_lineno)


def _py_class_context(cls: ast.ClassDef, src: _Source) -> Tuple[str, List[Tuple[int, int]]]:
    """Class signature + class-level fields, no sibling methods and no
    class docstring (additional_context_no_docstring, :581-592)."""
    rngs = [(cls.lineno, cls.body[0].lineno - 1 if cls.body else cls.end_lineno)]
    parts = [src.seg(*rngs[0])]
    for node in cls.body:
        if isinstance(node, (ast.Assign, ast.AnnAssign)):
            rngs.append((node.lineno, node.end_lineno))
            parts.append(src.seg(node.lineno, node.end_lineno))
    return "\n".join(parts), rngs


def _chunk_rows_python(src: _Source) -> List[tuple]:
    lines = src.lines
    try:
        tree = ast.parse(src.code)
    except (SyntaxError, ValueError, MemoryError, RecursionError):
        # unparseable payloads degrade to one whole-file preamble chunk,
        # never a job failure
        return [("", "preamble", 1, len(lines), 1, "", src.code)]

    imports = _py_imports(tree)
    module_vars = _py_module_vars(tree)
    used: List[Tuple[int, int]] = [rng for rng in imports.values()]

    def fn_targets():
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield node, None
            elif isinstance(node, ast.ClassDef):
                for sub in node.body:
                    if isinstance(sub, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        yield sub, node

    rows: List[tuple] = []
    classes_with_methods: set = set()
    for fn, cls in fn_targets():
        names = _py_used_names(fn)
        ctx, ctx_rngs = ("", [])
        part = fn.name
        if cls is not None:
            classes_with_methods.add(cls.name)
            ctx, ctx_rngs = _py_class_context(cls, src)
            part = f"{cls.name}.{fn.name}"
        imp_lines = sorted({imports[n] for n in sorted(names) if n in imports})
        var_lines = sorted({module_vars[n] for n in sorted(names)
                            if n in module_vars and n not in imports})
        pieces = [src.seg(a, b) for a, b in imp_lines]
        pieces += [src.seg(a, b) for a, b in var_lines]
        if ctx:
            pieces.append(ctx)
        body_txt = _py_strip_docstring(fn, src)
        pieces.append(body_txt)
        start = fn.lineno
        if fn.decorator_list:
            start = min(d.lineno for d in fn.decorator_list)
        used.append((start, fn.end_lineno))
        used.extend(imp_lines)
        used.extend(var_lines)
        used.extend(ctx_rngs)
        rows.append((part, "function", start, fn.end_lineno, _py_sig_end(fn),
                     ast.get_docstring(fn) or "", "\n".join(p for p in pieces if p)))

    for node in tree.body:  # classes with no methods chunk whole (:514-523)
        if isinstance(node, ast.ClassDef) and node.name not in classes_with_methods:
            used.append((node.lineno, node.end_lineno))
            rows.append((node.name, "class", node.lineno, node.end_lineno,
                         _py_sig_end(node), ast.get_docstring(node) or "",
                         _py_strip_docstring(node, src)))
        elif isinstance(node, ast.ClassDef):
            used.append((node.lineno, node.end_lineno))

    # copyright comments are dropped, not orphaned (:533-540)
    for i, ln in enumerate(lines, 1):
        s = ln.strip().lower()
        if s.startswith("#") and any(w in s for w in _COPYRIGHT_WORDS):
            used.append((i, i))
    # module vars consumed by a function chunk are already in `used`
    return _finish(src, rows, used)


# ---------------------------------------------------------------------------
# C and any other label: top-level `name(args) {...}` blocks
# ---------------------------------------------------------------------------

_BRACE_FN_RE = re.compile(
    r"^[ \t]*(?:[\w$<>\[\],&*:~ ]+?[ \t]+)?([\w$~]+)[ \t]*\([^;{}]*\)[ \t\w,:<>\[\]]*\{",
    re.M,
)

# control-flow headers also match `name(cond) {` — they are blocks, not
# function definitions, and must fall through to preamble
_BRACE_KEYWORDS = frozenset({
    "if", "else", "while", "for", "switch", "catch", "do", "return",
    "synchronized", "try", "with", "until", "unless",
})


def _chunk_rows_braces(src: _Source) -> List[tuple]:
    """Top-level `name(args) {...}` blocks by brace matching; everything
    between functions is preamble."""
    code = src.code
    rows: List[tuple] = []
    used: List[Tuple[int, int]] = []
    for m in _BRACE_FN_RE.finditer(code):
        if m.group(1) in _BRACE_KEYWORDS:
            continue  # `if (cond) {` is not a function named "if"
        depth, end = 0, None
        for j in range(m.end() - 1, len(code)):
            if code[j] == "{":
                depth += 1
            elif code[j] == "}":
                depth -= 1
                if depth == 0:
                    end = j
                    break
        if end is None:
            continue
        start_line, end_line = src.line_of(m.start()), src.line_of(end)
        if any(a <= end_line and start_line <= b for a, b in used):
            continue  # nested block inside an already-claimed function
        used.append((start_line, end_line))
        rows.append((m.group(1), "function", start_line, end_line,
                     src.line_of(m.end() - 1), "", src.seg(start_line, end_line)))
    return _finish(src, rows, used)


# ---------------------------------------------------------------------------
# Java and JavaScript / TypeScript: one composer on a structural (mask +
# brace-tree) parser. Per-function chunks carry the package prefix (Java),
# the imports they use, the contexts of their enclosing types (signature,
# fields/constants/properties, static initializers, constructor) and the
# declaration with its doc comment HOISTED to metadata; methodless types
# chunk whole; unused imports and stray top-level code become preamble
# chunks. JS/TS has no module variables (as in the reference) and no
# package. Template literals are masked wholesale so ${} braces can't skew
# the tree; bare JS regex literals containing braces are the documented
# residual gap of a non-tree-sitter lexer.
# ---------------------------------------------------------------------------

_JAVA_TYPE_RE = re.compile(r"\b(class|interface|enum|record)\s+([A-Za-z_$][\w$]*)")
_JAVA_NAME_PAREN_RE = re.compile(r"([A-Za-z_$][\w$]*)\s*\(")
_JAVA_IMPORT_RE = re.compile(r"^[ \t]*import\s+(static\s+)?([\w.]+(?:\.\*)?)\s*;",
                             re.M)
_JAVA_PACKAGE_RE = re.compile(r"^[ \t]*package\s+[\w.]+\s*;", re.M)
_TYPE_KINDS = frozenset({"class", "interface", "enum", "record"})


def _java_mask(code: str) -> Tuple[str, List[Tuple[int, int]]]:
    """Comments and string/char literal CONTENTS replaced by spaces
    (newlines preserved, so line numbers and brace positions survive);
    returns (masked, comment_spans)."""
    out = list(code)
    comments: List[Tuple[int, int]] = []
    i, n = 0, len(code)
    while i < n:
        c = code[i]
        nxt = code[i + 1] if i + 1 < n else ""
        if c == "/" and nxt == "/":
            j = code.find("\n", i)
            j = n if j == -1 else j
            comments.append((i, j))
            for k in range(i, j):
                out[k] = " "
            i = j
        elif c == "/" and nxt == "*":
            j = code.find("*/", i + 2)
            j = n - 2 if j == -1 else j
            comments.append((i, j + 2))
            for k in range(i, j + 2):
                if out[k] != "\n":
                    out[k] = " "
            i = j + 2
        elif c == '"' and code[i:i + 3] == '"""':  # Java 15 text block
            j = code.find('"""', i + 3)
            j = n - 3 if j == -1 else j
            for k in range(i + 3, j):
                if out[k] != "\n":
                    out[k] = " "
            i = j + 3
        elif c == "`":  # JS/TS template literal — mask WHOLE body incl.
            j = i + 1    # ${...} so interpolation braces can't skew the tree
            while j < n and code[j] != "`":
                j += 2 if code[j] == "\\" else 1
            for k in range(i + 1, min(j, n)):
                if out[k] != "\n":
                    out[k] = " "
            i = min(j, n - 1) + 1
        elif c in "\"'":
            j = i + 1
            while j < n and code[j] != c:
                j += 2 if code[j] == "\\" else 1
            for k in range(i + 1, min(j, n)):
                if out[k] != "\n":
                    out[k] = " "
            i = min(j, n - 1) + 1
        else:
            i += 1
    return "".join(out), comments


class _JBlock:
    __slots__ = ("open", "close", "children", "hdr_start")

    def __init__(self, open_: int, close: int, children: "List[_JBlock]",
                 hdr_start: int):
        self.open, self.close, self.children = open_, close, children
        self.hdr_start = hdr_start  # after prev sibling / last ';' at level


def _java_blocks(masked: str) -> "List[_JBlock]":
    """Top-level brace blocks of `masked`, each with nested children and
    its header start (the position after the previous same-level ';' or
    sibling close — the span a declaration's modifiers/annotations/javadoc
    occupy). One pass with an explicit stack, so nesting depth is bounded
    only by memory; an unclosed block closes at the end, a stray '}'
    outside every block is skipped."""
    out: List[_JBlock] = []
    end = len(masked)
    # one frame per open block: (block, its children, its level's cursor)
    stack: list = [[None, out, 0]]
    for i, ch in enumerate(masked):
        if ch == ";":
            stack[-1][2] = i + 1
        elif ch == "{":
            blk = _JBlock(i, end, [], stack[-1][2])
            stack[-1][1].append(blk)
            stack.append([blk, blk.children, i + 1])
        elif ch == "}" and len(stack) > 1:
            stack.pop()[0].close = i
            stack[-1][2] = i + 1
    return out


_JAVA_CTRL = frozenset({
    "if", "else", "while", "for", "switch", "try", "catch", "finally", "do",
    "synchronized", "return", "new", "throw", "assert", "case", "default",
})


def _java_classify(hdr: str) -> Tuple[str, str]:
    """('type'|'method'|'ctor_or_method'|'static_init'|'expr'|'ctrl', name)
    from a masked header string."""
    h = hdr.strip()
    m = _JAVA_TYPE_RE.search(h)
    if m and "new" not in _javawords(h[:m.start()]):
        return m.group(1), m.group(2)  # class/interface/enum/record
    if h.endswith(("=", ",", "[", "]")) or "->" in h[-4:]:
        return "expr", ""  # array initializer / lambda
    names = [mm for mm in _JAVA_NAME_PAREN_RE.finditer(h)
             if mm.group(1) not in _JAVA_CTRL
             and (mm.start() == 0 or h[mm.start() - 1] != "@")]
    if "new" in _javawords(h):
        return "expr", ""  # anonymous class body
    if names:
        return "method", names[-1].group(1)
    if _javawords(h)[-1:] == ["static"] or h == "static":
        return "static_init", "<clinit>"
    if any(w in _JAVA_CTRL for w in _javawords(h)):
        return "ctrl", ""
    return "expr", ""


def _javawords(s: str) -> List[str]:
    return re.findall(r"[A-Za-z_$][\w$]*", s)


def _java_imports(code: str, masked: str) -> Tuple[dict, set]:
    """(simple name → import statement span, wildcard import texts): a
    wildcard import joins every chunk's import block but is never matched
    as used, so its line is never claimed."""
    keyed: dict = {}
    wild: set = set()
    for m in _JAVA_IMPORT_RE.finditer(masked):
        simple = m.group(2).rsplit(".", 1)[-1]
        if simple == "*":
            wild.add(code[m.start():m.end()].strip())
        else:
            keyed[simple] = (m.start(), m.end())
    return keyed, wild


_JS_IMPORT_RE = re.compile(
    r"^[ \t]*import\s+(?:([^'\";]+?)\s+from\s+)?['\"][^'\"]*['\"]\s*;?", re.M)
_JS_REQUIRE_RE = re.compile(
    r"^[ \t]*(?:export\s+)?(?:const|let|var)\s+(\{[^}]*\}|[\w$]+)\s*=\s*"
    r"require\s*\([^)]*\)\s*;?", re.M)
_JS_FN_DECL_RE = re.compile(r"\bfunction\s*\*?\s*([\w$]*)\s*\(")
_JS_ASSIGN_RE = re.compile(r"\b(?:const|let|var)\s+([\w$]+)\s*=")


def _js_import_idents(clause: str) -> List[str]:
    """Bound identifiers of an import clause: default name, named imports
    (BOTH original and alias — matching either counts as use), namespace
    `* as X`, destructured require."""
    out: List[str] = []
    clause = clause.strip()
    m = re.search(r"\*\s*as\s+([\w$]+)", clause)
    if m:
        out.append(m.group(1))
        clause = clause.replace(m.group(0), "")
    brace = re.search(r"\{([^}]*)\}", clause)
    if brace:
        for item in brace.group(1).split(","):
            item = item.strip()
            if not item:
                continue
            parts = re.split(r"\s+as\s+|\s*:\s*", item)
            out.extend(p for p in (x.strip() for x in parts) if re.match(r"^[\w$]+$", p))
        clause = clause[:brace.start()] + clause[brace.end():]
    for tok in clause.split(","):
        tok = tok.strip().rstrip(";")
        if re.match(r"^[\w$]+$", tok) and tok not in ("type",):  # `import type {..}`
            out.append(tok)
    return out


def _js_imports(code: str, masked: str) -> Tuple[dict, set]:
    """(bound identifier → import/require statement span, no wildcards)."""
    keyed: dict = {}
    for m in [*_JS_IMPORT_RE.finditer(masked), *_JS_REQUIRE_RE.finditer(masked)]:
        for ident in _js_import_idents(m.group(1) or ""):
            keyed[ident] = (m.start(), m.end())
    return keyed, set()


def _js_classify(hdr: str) -> Tuple[str, str]:
    """('class'|'function'|'other', name) for a top-level JS brace block."""
    h = hdr.strip()
    tm = _JAVA_TYPE_RE.search(h)
    if tm and tm.group(1) == "class" and "new" not in _javawords(h[:tm.start()]):
        return "class", tm.group(2)
    fm = _JS_FN_DECL_RE.search(h)
    am = _JS_ASSIGN_RE.search(h)
    if am and (h.endswith("=>") or (fm and fm.start() > am.start())):
        return "function", am.group(1)       # const f = (…) => { / = function
    if fm and not am:
        return "function", fm.group(1) or "default"
    return "other", ""


class _BraceLang(NamedTuple):
    """What differs between the brace-tree languages."""
    imports: Callable[[str, str], Tuple[dict, set]]  # (code, masked) → (keyed, always-included texts)
    package: Optional[re.Pattern]  # statement prefixed to every chunk
    classify: Callable[[str], Tuple[str, str]]  # top-level header → (kind, name)
    nested: bool  # types nested in types are walked
    ctor: Optional[str]  # constructor name; None → the type's own name


_JAVA = _BraceLang(_java_imports, _JAVA_PACKAGE_RE, _java_classify, True, None)
_JS = _BraceLang(_js_imports, None, _js_classify, False, "constructor")


class _BraceDoc:
    """A masked brace-language document: where each block's declaration
    and doc comment sit."""

    def __init__(self, code: str):
        self.code = code
        self.masked, self.comments = _java_mask(code)
        # comments never overlap, so both ends ascend
        self._starts = [a for a, _ in self.comments]
        self._ends = [b for _, b in self.comments]

    def header(self, blk: _JBlock) -> str:
        return self.masked[blk.hdr_start:blk.open].strip()

    def doc_span(self, blk: _JBlock) -> "Optional[Tuple[int, int]]":
        """The comment in the block's header span closest to its '{' — the
        reference's prev-named-sibling docs node."""
        i = bisect_right(self._ends, blk.open) - 1
        if i >= 0 and self._starts[i] >= blk.hdr_start:
            return self.comments[i]
        return None

    def decl_start(self, blk: _JBlock, doc_span: "Optional[Tuple[int, int]]") -> int:
        """First code char of the declaration: after the doc comment (which
        is hoisted), skipping whitespace; annotations stay part of it."""
        lo = doc_span[1] if doc_span else blk.hdr_start
        seg = self.masked[lo:blk.open]
        return lo + len(seg) - len(seg.lstrip())


def _java_fields(code: str, masked: str, lo: int, hi: int,
                 spans: List[Tuple[int, int, bool]]) -> List[str]:
    """Field/constant statements of a type body [lo, hi): the ';'-terminated
    segments outside the member `spans` — (start, end, claims), in order.
    A claiming span (method, nested type, static init) ends the statement
    before it; a passthrough span (array initializer, arrow-function
    property body) stays INSIDE its statement, its ';' splitting nothing.
    Abstract/interface method signatures end with ';' and are picked up
    here too — they are context, exactly like constants."""
    fields: List[str] = []
    cursor = i = lo
    for start, end, claims in [*spans, (hi, hi, False)]:
        j = masked.find(";", i, start)
        while j != -1:
            seg = code[cursor:j + 1].strip()
            if seg:
                fields.append(seg)
            cursor = j + 1
            j = masked.find(";", cursor, start)
        i = end
        if claims:
            cursor = end
    return fields


def _type_context(bd: _BraceDoc, blk: _JBlock, members: List[tuple],
                  ctor: Optional[str]) -> str:
    """additional_context_no_docstring for one type: signature + " {",
    fields/constants, static initializers, constructor, "}" —
    _build_java_class_like_context (:1555-1630). The type's own doc
    comment stays OUT (this is the no-docstring variant). `members` are
    the type's (block, kind, name) children."""
    code = bd.code
    sig = code[bd.decl_start(blk, bd.doc_span(blk)):blk.open].strip()
    # expr blocks (array initializers, arrow-function properties) are PART
    # of a field statement; every other member claims its span
    inner = _java_fields(code, bd.masked, blk.open + 1, blk.close, [
        (m.open, m.close + 1, False) if kind == "expr" else (m.hdr_start, m.close + 1, True)
        for m, kind, _ in members])
    inner += [code[bd.decl_start(m, None):m.close + 1].strip()
              for m, kind, _ in members if kind == "static_init"]
    if ctor is None:
        tm = _JAVA_TYPE_RE.search(sig)
        ctor = tm.group(2) if tm else ""
    inner += [code[bd.decl_start(m, bd.doc_span(m)):m.close + 1].strip()
              for m, kind, name in members if kind == "method" and name == ctor]
    body = "\n".join(p for p in inner if p.strip())
    return (sig + " {" + ("\n\n" + body if body else "")).rstrip() + "\n}"


class _TypeFrame:
    """One type on the walk's stack: its classified members, the next one
    to visit, whether it holds methods, its context and its chain's
    (part-name prefix, joined contexts), each built at most once."""

    __slots__ = ("blk", "name", "members", "pos", "had", "ctx", "chain")

    def __init__(self, bd: _BraceDoc, blk: _JBlock, name: str):
        self.blk, self.name, self.pos, self.had = blk, name, 0, False
        self.members = [(m, *_java_classify(bd.header(m))) for m in blk.children]
        self.ctx = self.chain = None


def _chunk_rows_brace_tree(src: _Source, lang: _BraceLang) -> List[tuple]:
    code, line_of = src.code, src.line_of
    bd = _BraceDoc(code)
    masked = bd.masked
    imports, always = lang.imports(code, masked)
    rows: List[tuple] = []
    used: List[Tuple[int, int]] = []
    used_keys: set = set()
    prefix = ""
    pkg = lang.package.search(masked) if lang.package else None
    if pkg:
        prefix = code[pkg.start():pkg.end()].strip() + "\n"
        used.append((line_of(pkg.start()), line_of(pkg.end() - 1)))

    def claim(blk: _JBlock) -> Tuple["Optional[Tuple[int, int]]", int]:
        """Claims the block from its doc comment (hoisted into its chunk or
        its members' contexts) or first declaration char — NOT from
        hdr_start, which sits right after the previous ';' and would
        swallow that line."""
        span = bd.doc_span(blk)
        decl = bd.decl_start(blk, span)
        used.append((line_of(span[0] if span else decl), line_of(blk.close)))
        return span, decl

    def chunk(blk: _JBlock, part: str, ctype: str, ctx: str = "") -> None:
        span, decl = claim(blk)
        words = set(_javawords(masked[decl:blk.close + 1]))
        keys = {k for k in imports if k in words or (ctx and k in ctx)}
        used_keys.update(keys)
        imps = sorted(always | {code[imports[k][0]:imports[k][1]].strip() for k in keys})
        rows.append((part, ctype, line_of(decl), line_of(blk.close), line_of(blk.open),
                     code[span[0]:span[1]].strip() if span else "",
                     "".join([prefix, ("\n".join(imps) + "\n") if imps else "",
                              (ctx + "\n") if ctx else "", code[decl:blk.close + 1]])))

    def walk(blk: _JBlock, name: str) -> bool:
        """Chunks every method of the type and of the types nested in it;
        True if there was one — then the whole type span is claimed (the
        reference marks the parent class range used when context is
        built, :586-592)."""
        stack = [_TypeFrame(bd, blk, name)]
        while True:
            f = stack[-1]
            if f.pos < len(f.members):
                m, kind, mname = f.members[f.pos]
                f.pos += 1
                if kind == "method":
                    if f.chain is None:
                        for g in stack:
                            if g.ctx is None:
                                g.ctx = _type_context(bd, g.blk, g.members, lang.ctor)
                        f.chain = (".".join(g.name for g in stack),
                                   "\n".join(g.ctx for g in stack))
                    chunk(m, f.chain[0] + "." + mname, "function", f.chain[1])
                    f.had = True
                elif kind in _TYPE_KINDS and lang.nested:
                    stack.append(_TypeFrame(bd, m, mname))
                continue
            stack.pop()
            if f.had:
                claim(f.blk)
            if not stack:
                return f.had
            stack[-1].had |= f.had

    for blk in _java_blocks(masked):
        kind, name = lang.classify(bd.header(blk))
        if kind in _TYPE_KINDS:
            if not walk(blk, name):
                chunk(blk, name, "class")  # methodless type chunks whole (:514-523)
        elif kind == "function":
            chunk(blk, name, "function")

    for k in used_keys:
        a, b = imports[k]
        used.append((line_of(a), line_of(b - 1)))
    for a, b in bd.comments:  # copyright comments dropped (:533-540)
        if any(w in code[a:b].lower() for w in _COPYRIGHT_WORDS):
            used.append((line_of(a), line_of(b - 1)))
    return _finish(src, rows, used)


def chunk_code_document(doc_id: str, language: str, code: str,
                        max_tokens: int = 5000) -> List[tuple]:
    """One document → CODE_CHUNK_DDL rows. Oversized chunks split on line
    boundaries under `max_tokens` (the _ChunkSizeProcessor role; reference
    default max_tokens=5000, :1074).

    The token counter is resolved once per document (`_DocCounter`) and each
    string is counted once: a unit's content, then an oversize unit's lines.
    A split piece's count is the sum of its line counts; only the HF
    counter, which is not additive across the newline, recounts the piece."""
    lang = (language or "").lower()
    src = _Source(code or "")  # a null file is an empty one: no chunks
    if lang == "python":
        rows = _chunk_rows_python(src)
    elif lang == "java":
        rows = _chunk_rows_brace_tree(src, _JAVA)
    elif lang in ("javascript", "js", "typescript", "ts"):
        rows = _chunk_rows_brace_tree(src, _JS)
    else:
        rows = _chunk_rows_braces(src)
    counter = _DocCounter()
    count = counter.count
    out: List[tuple] = []
    cid = 0
    for part, ctype, a, b, sig, doc, content in rows:
        pieces, counts = [content], [count(content)]
        if counts[0] > max_tokens:
            pieces, counts, cur = [], [], []
            cur_tokens = 0
            for ln in content.split("\n"):
                t = count(ln)
                if cur and cur_tokens + t > max_tokens:
                    pieces.append("\n".join(cur))
                    counts.append(cur_tokens)
                    cur, cur_tokens = [], 0
                cur.append(ln)
                cur_tokens += t
            if cur:
                pieces.append("\n".join(cur))
                counts.append(cur_tokens)
            if not counter.additive:
                counts = [count(p) for p in pieces]
        for piece, n in zip(pieces, counts):
            out.append((doc_id, cid, part, ctype, a, b, sig, doc, piece, n))
            cid += 1
    return out


def code_chunk_sink(df, id_col: str = "doc_id", lang_col: str = "language",
                    code_col: str = "code", max_tokens: int = 5000):
    """(doc_id, language, code) → code-chunk table: `chunk_code_document`
    per row in one zero-shuffle Arrow map (`docmap.map_rows`)."""

    def row(doc_id, lang, code):
        return chunk_code_document(str(doc_id), lang, code, max_tokens)

    return map_rows(df, row, (id_col, lang_col, code_col), CODE_CHUNK_DDL)


# ---------------------------------------------------------------------------
# deterministic demo corpus (the testdata tables carry no source code; the
# reference's code-chunking tests construct their own code items too)
# ---------------------------------------------------------------------------

_PY_TMPL = '''# Copyright {year} Example. All rights reserved.
"""Module m{i}."""
import os
import json as j
from math import sqrt

LIMIT_{i} = {limit}
TAG = "m{i}"

def area_{i}(r):
    """Scaled square root #{i}."""
    return sqrt(r) * LIMIT_{i}

def dump_{i}(x):
    return j.dumps({{"v": x, "tag": TAG}})

class Shape{i}:
    kind = "s{i}"

    def describe(self):
        """Describe shape {i}."""
        return os.path.join(self.kind, TAG)

class Marker{i}:
    """Empty marker class {i}."""

print(area_{i}({i}))
'''

_C_TMPL = '''/* helper module {i} */
#include <stdio.h>

static int scale_{i}(int x) {{
    return x * {limit};
}}

int main(void) {{
    printf("%d", scale_{i}({i}));
    return 0;
}}
'''

_JS_TMPL = '''// module {i}
const LIMIT_{i} = {limit};

function area_{i}(r) {{
    return Math.sqrt(r) * LIMIT_{i};
}}

module.exports = {{ area_{i} }};
'''

_JAVA_TMPL = '''/* Copyright {year} Example. All rights reserved. */
package com.example.m{i};

import java.util.List;
import java.util.Map;
import java.io.IOException;

/** Service {i}. */
public class Service{i} {{
    /** scale constant */
    private static final int LIMIT = {limit};
    private final List<String> items;

    public Service{i}(List<String> items) {{
        this.items = items;
    }}

    /** Sum of sizes, scaled by {limit}. */
    public int total() {{
        int acc = 0;
        for (String s : items) {{
            acc += s.length() * LIMIT;
        }}
        return acc;
    }}

    public Map<String, Integer> index() throws IOException {{
        return Map.of("m{i}", LIMIT);
    }}
}}

/** Tag for module {i}. */
class Tag{i} {{
    static final String NAME = "m{i}";
}}
'''


def synth_code_rows(n: int = 16, seed: int = 7) -> List[tuple]:
    """(doc_id, language, code) — deterministic mixed-language corpus;
    `seed` offsets the templated constants so distinct corpora don't
    collide."""
    rows = []
    for i in range(n):
        limit = (i * 31 + seed) % 97 + 3
        if i % 4 == 1:
            rows.append((f"code-{i:03d}", "java",
                         _JAVA_TMPL.format(i=i, limit=limit, year=2020 + i % 6)))
        elif i % 4 == 2:
            rows.append((f"code-{i:03d}", "c",
                         _C_TMPL.format(i=i, limit=limit)))
        elif i % 4 == 3:
            rows.append((f"code-{i:03d}", "javascript",
                         _JS_TMPL.format(i=i, limit=limit)))
        else:
            rows.append((f"code-{i:03d}", "python",
                         _PY_TMPL.format(i=i, limit=limit, year=2020 + i % 6)))
    return rows
