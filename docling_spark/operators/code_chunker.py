"""K6 — per-language code chunker (SURVEY.md §2.9; reference
transforms/chunker/code_chunking/_language_code_chunkers.py, tree-sitter
based, 1,664 LoC; standard_code_chunking_strategy.py routes by
CodeLanguageLabel).

Tree-sitter does not ship in this container (same class of gap as the HF
tokenizer for the hybrid chunker), so the PYTHON chunker is rebuilt on the
stdlib `ast` parser — a full parser, not a heuristic — reproducing the
reference's chunk-composition rules (_language_code_chunkers.py:477-640):

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

JAVA gets the same composition treatment on a structural parser
(comment/string masking + brace tree — no tree-sitter needed for the
composition rules, _JavaFunctionChunker :1434-1664): per-method chunks
carry package prefix + used imports (identifier-matched; wildcard imports
always included) + the ancestor type contexts (signature, fields/
constants, static initializers, constructor) + the method with its
javadoc hoisted to metadata; methodless types chunk whole; unused
imports and stray top-level code orphan into preamble chunks.

JAVASCRIPT / TYPESCRIPT get the composition rules on the same structural
parser (_TypeScriptFunctionChunker :1194-1278): used imports (default /
named incl. aliases / namespace / require destructuring), arrow-function
and function-declaration chunks, class context with properties +
constructor, doc-comment hoisting, side-effect-import and stray-statement
preambles; template literals are masked wholesale so ${} braces can't
skew the brace tree.

C falls back to a documented brace-matching top-level function splitter
(same output schema, no import/variable context).

Spark shape: one zero-shuffle Arrow map (`docmap.map_rows`) over (doc_id,
language, code), the same map the serializer sinks run in; chunking is a
per-document fold, so it partitions embarrassingly at 100 TB.
"""

from __future__ import annotations

import ast
import re
from typing import List, Tuple

from docling_spark.docmap import map_rows
from docling_spark.operators.hybrid_chunker import _DocCounter

CODE_CHUNK_DDL = (
    "doc_id string, chunk_id int, part_name string, chunk_type string, "
    "start_line int, end_line int, signature_end_line int, "
    "docstring string, content string, n_tokens int"
)

_COPYRIGHT_WORDS = ("copyright", "license", "licensed under", "all rights reserved")


def _seg(lines: List[str], a: int, b: int) -> str:
    """1-based inclusive line slice."""
    return "\n".join(lines[a - 1 : b])


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


def _py_strip_docstring(node, lines: List[str]) -> str:
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
        pre = _seg(lines, start, ds.lineno - 1)
        post = _seg(lines, ds.end_lineno + 1, node.end_lineno)
        if len(body) == 1:  # docstring-only body must stay syntactically valid
            indent = " " * (ds.col_offset)
            post = f"{indent}pass" + (("\n" + post) if post else "")
        return pre + ("\n" + post if post else "")
    return _seg(lines, start, node.end_lineno)


def _py_class_context(cls: ast.ClassDef, lines: List[str]) -> Tuple[str, List[Tuple[int, int]]]:
    """Class signature + class-level fields, no sibling methods and no
    class docstring (additional_context_no_docstring, :581-592)."""
    rngs = [(cls.lineno, cls.body[0].lineno - 1 if cls.body else cls.end_lineno)]
    parts = [_seg(lines, *rngs[0])]
    for node in cls.body:
        if isinstance(node, (ast.Assign, ast.AnnAssign)):
            rngs.append((node.lineno, node.end_lineno))
            parts.append(_seg(lines, node.lineno, node.end_lineno))
    return "\n".join(parts), rngs


def _chunk_rows_python(code: str) -> List[tuple]:
    """(part_name, chunk_type, start, end, sig_end, docstring, content)."""
    lines = code.split("\n")
    try:
        tree = ast.parse(code)
    except (SyntaxError, ValueError, MemoryError, RecursionError):
        # unparseable payloads degrade to one whole-file preamble chunk,
        # never a job failure
        return [("", "preamble", 1, len(lines), 1, "", code)]

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
            ctx, ctx_rngs = _py_class_context(cls, lines)
            part = f"{cls.name}.{fn.name}"
        imp_lines = sorted({imports[n] for n in sorted(names) if n in imports})
        var_lines = sorted({module_vars[n] for n in sorted(names)
                            if n in module_vars and n not in imports})
        pieces = [_seg(lines, a, b) for a, b in imp_lines]
        pieces += [_seg(lines, a, b) for a, b in var_lines]
        if ctx:
            pieces.append(ctx)
        body_txt = _py_strip_docstring(fn, lines)
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
                         _py_strip_docstring(node, lines)))
        elif isinstance(node, ast.ClassDef):
            used.append((node.lineno, node.end_lineno))

    # copyright comments are dropped, not orphaned (:533-540)
    for i, ln in enumerate(lines, 1):
        s = ln.strip().lower()
        if s.startswith("#") and any(w in s for w in _COPYRIGHT_WORDS):
            used.append((i, i))

    # gaps → preamble chunks (find_gaps :70-85); module vars consumed by a
    # function chunk are already in `used`
    covered = set()
    for a, b in used:
        covered.update(range(a, b + 1))
    gap: List[int] = []
    gaps: List[Tuple[int, int]] = []
    for i in range(1, len(lines) + 1):
        if i not in covered and lines[i - 1].strip():
            gap.append(i)
        elif gap:
            gaps.append((gap[0], gap[-1]))
            gap = []
    if gap:
        gaps.append((gap[0], gap[-1]))
    for a, b in gaps:
        rows.append(("", "preamble", a, b, a, "", _seg(lines, a, b)))

    rows.sort(key=lambda r: (r[2], r[0]))
    return rows


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


def _chunk_rows_braces(code: str) -> List[tuple]:
    """C / Java / JS / TS fallback: top-level `name(args) {...}` blocks by
    brace matching; everything between functions is preamble."""
    lines = code.split("\n")
    rows: List[tuple] = []
    used: set = set()
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
        start_line = code.count("\n", 0, m.start()) + 1
        end_line = code.count("\n", 0, end) + 1
        sig_end = code.count("\n", 0, m.end() - 1) + 1
        if any(i in used for i in range(start_line, end_line + 1)):
            continue  # nested block inside an already-claimed function
        used.update(range(start_line, end_line + 1))
        rows.append((m.group(1), "function", start_line, end_line, sig_end,
                     "", _seg(lines, start_line, end_line)))
    gap: List[int] = []
    gaps: List[Tuple[int, int]] = []
    for i in range(1, len(lines) + 1):
        if i not in used and lines[i - 1].strip():
            gap.append(i)
        elif gap:
            gaps.append((gap[0], gap[-1]))
            gap = []
    if gap:
        gaps.append((gap[0], gap[-1]))
    for a, b in gaps:
        rows.append(("", "preamble", a, b, a, "", _seg(lines, a, b)))
    rows.sort(key=lambda r: (r[2], r[0]))
    return rows


# ---------------------------------------------------------------------------
# Java: composition-rule chunking on a structural (mask + brace-tree) parser
# — the reference's _JavaFunctionChunker rules (:1434-1664) without
# tree-sitter (container-blocked): per-method chunks carry
# package prefix + used imports + ancestor class context (signature,
# fields/constants, static initializers, constructor) + the method body
# with its doc comment HOISTED to metadata; methodless types chunk whole;
# unused imports and stray top-level code become preamble chunks.
# ---------------------------------------------------------------------------

_JAVA_TYPE_RE = re.compile(r"\b(class|interface|enum|record)\s+([A-Za-z_$][\w$]*)")
_JAVA_NAME_PAREN_RE = re.compile(r"([A-Za-z_$][\w$]*)\s*\(")
_JAVA_IMPORT_RE = re.compile(r"^[ \t]*import\s+(static\s+)?([\w.]+(?:\.\*)?)\s*;",
                             re.M)
_JAVA_PACKAGE_RE = re.compile(r"^[ \t]*package\s+[\w.]+\s*;", re.M)


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


def _java_doc_comment(code: str, comments: List[Tuple[int, int]],
                      hdr_start: int, decl_start: int) -> Tuple[str, "Tuple[int, int] | None"]:
    """The comment that sits in the declaration's header span, closest to
    the declaration — the reference's prev-named-sibling docs node."""
    best = None
    for a, b in comments:
        if a >= hdr_start and b <= decl_start:
            best = (a, b)
    if best is None:
        return "", None
    return code[best[0]:best[1]].strip(), best


def _java_decl_start(code: str, masked: str, hdr_start: int, open_: int,
                     doc_span: "Tuple[int, int] | None") -> int:
    """First code char of the declaration: after the doc comment (which is
    hoisted), skipping whitespace; annotations stay part of the decl."""
    lo = doc_span[1] if doc_span else hdr_start
    seg = masked[lo:open_]
    off = len(seg) - len(seg.lstrip())
    return lo + off


def _java_fields(code: str, masked: str, body_lo: int, body_hi: int,
                 members: "List[_JBlock]",
                 passthrough: "List[_JBlock]" = ()) -> List[str]:
    """Field/constant statements of a type body: the ';'-terminated
    segments not claimed by a member block (methods, nested types, static
    inits). `passthrough` blocks (array initializers, arrow-function
    property bodies) stay INSIDE their statement: the scan jumps over
    their braces without splitting on the ';' they contain. Abstract/
    interface method signatures end with ';' and are picked up here too —
    they are context, exactly like constants."""
    claimed = [(b.hdr_start, b.close + 1) for b in members]
    passspans = [(b.open, b.close + 1) for b in passthrough]
    fields: List[str] = []
    cursor = body_lo
    i = body_lo
    while i < body_hi:
        inside = next((c for c in claimed if c[0] <= i < c[1]), None)
        if inside:
            i = inside[1]
            cursor = i
            continue
        inpass = next((c for c in passspans if c[0] <= i < c[1]), None)
        if inpass:
            i = inpass[1]  # keep cursor: the block is part of the statement
            continue
        if masked[i] == ";":
            seg = code[cursor:i + 1].strip()
            if seg:
                fields.append(seg)
            cursor = i + 1
        i += 1
    return fields


def _java_type_context(code: str, masked: str, blk: "_JBlock", kind: str,
                       comments: List[Tuple[int, int]],
                       ctor_name: "str | None" = None) -> str:
    """additional_context_no_docstring for one type: signature + " {",
    fields/constants, static initializers, constructor, "}" —
    _build_java_class_like_context (:1555-1630). The type's own doc
    comment stays OUT (this is the no-docstring variant)."""
    _, doc_span = _java_doc_comment(code, comments, blk.hdr_start, blk.open)
    decl_start = _java_decl_start(code, masked, blk.hdr_start, blk.open, doc_span)
    sig = code[decl_start:blk.open].strip()
    members = blk.children
    inner_parts: List[str] = []
    # expr blocks (array initializers, arrow-function properties) are PART
    # of a field statement — only real members claim spans away from the
    # field scan; expr blocks pass through un-split
    claiming, passthrough = [], []
    for m in members:
        mk = _java_classify(masked[m.hdr_start:m.open].strip())[0]
        (passthrough if mk == "expr" else claiming).append(m)
    inner_parts.extend(_java_fields(code, masked, blk.open + 1, blk.close,
                                    claiming, passthrough))
    for m in members:
        mk, mname = _java_classify(masked[m.hdr_start:m.open].strip())
        if mk == "static_init":
            inner_parts.append(code[_java_decl_start(code, masked, m.hdr_start, m.open, None):m.close + 1].strip())
    # constructor: a method whose name matches the type name (Java) or the
    # literal `constructor` keyword (JS/TS classes — ctor_name override)
    tm = _JAVA_TYPE_RE.search(sig)
    tname = ctor_name if ctor_name is not None else (tm.group(2) if tm else "")
    for m in members:
        mk, mname = _java_classify(masked[m.hdr_start:m.open].strip())
        if mk == "method" and mname == tname:
            _, dspan = _java_doc_comment(code, comments, m.hdr_start, m.open)
            inner_parts.append(code[_java_decl_start(code, masked, m.hdr_start, m.open, dspan):m.close + 1].strip())
    inner = "\n".join(p for p in inner_parts if p.strip())
    parts = [sig + " {"]
    if inner:
        parts.append(inner)
    return "\n\n".join(parts).rstrip() + "\n}"


def _chunk_rows_java(code: str) -> List[tuple]:
    """(part_name, chunk_type, start, end, sig_end, docstring, content) —
    the reference's Java composition rules on the structural parser."""
    masked, comments = _java_mask(code)
    lines = code.split("\n")

    def line_of(pos: int) -> int:
        return code.count("\n", 0, pos) + 1

    pkg = _JAVA_PACKAGE_RE.search(masked)
    prefix = (code[pkg.start():pkg.end()].strip() + "\n") if pkg else ""
    imports: dict = {}  # simple name (or full text for wildcard) → (start, end)
    for m in _JAVA_IMPORT_RE.finditer(masked):
        path = m.group(2)
        simple = path.rsplit(".", 1)[-1]
        key = code[m.start():m.end()].strip() if simple == "*" else simple
        imports[key] = (m.start(), m.end())

    top = _java_blocks(masked)
    rows: List[tuple] = []
    used: List[Tuple[int, int]] = []
    if pkg:
        used.append((line_of(pkg.start()), line_of(pkg.end() - 1)))
    used_import_keys: set = set()

    def imports_block(texts_used: set) -> str:
        wild = {code[a:b].strip() for k, (a, b) in imports.items()
                if k.startswith("import ")}
        alltexts = sorted(wild | texts_used)
        return ("\n".join(alltexts) + "\n") if alltexts else ""

    def used_imports_for(text: str, ctx: str) -> set:
        out = set()
        words = set(_javawords(text))
        for k in imports:
            if k.startswith("import "):
                continue
            if k in words or (ctx and k in ctx):
                out.add(k)
        return out

    def emit_function(blk: "_JBlock", ancestors: List[Tuple[str, "_JBlock"]],
                      name: str) -> None:
        hdr_masked = masked[blk.hdr_start:blk.open]
        doc, doc_span = _java_doc_comment(code, comments, blk.hdr_start, blk.open)
        decl_start = _java_decl_start(code, masked, blk.hdr_start, blk.open, doc_span)
        body = code[decl_start:blk.close + 1]
        ctxs = [_java_type_context(code, masked, ab, ak, comments)
                for ak, ab in ancestors]
        ctx = "\n".join(ctxs)
        uimp = used_imports_for(masked[decl_start:blk.close + 1], ctx)
        used_import_keys.update(uimp)
        imp_txts = {code[imports[k][0]:imports[k][1]].strip() for k in uimp}
        content = "".join([
            prefix,
            imports_block(imp_txts),
            (ctx + "\n") if ctx else "",
            body,
        ])
        part = ".".join([_JAVA_TYPE_RE.search(
            masked[ab.hdr_start:ab.open]).group(2) for _, ab in ancestors] + [name])
        rows.append((part, "function", line_of(decl_start), line_of(blk.close),
                     line_of(blk.open), doc, content))
        lo = doc_span[0] if doc_span else decl_start
        used.append((line_of(lo), line_of(blk.close)))

    def walk_type(blk: "_JBlock", kind: str, name: str,
                  ancestors: List[Tuple[str, "_JBlock"]]) -> bool:
        """Returns True if this type (or a nested one) produced methods —
        then the whole type span is claimed (reference marks the parent
        class range used when context is built, :586-592)."""
        chain = ancestors + [(kind, blk)]
        had_methods = False
        for m in blk.children:
            mk, mname = _java_classify(masked[m.hdr_start:m.open].strip())
            if mk in ("class", "interface", "enum", "record"):
                had_methods |= walk_type(m, mk, mname, chain)
            elif mk == "method":
                emit_function(m, chain, mname)
                had_methods = True
        if had_methods:
            # claim from the type's javadoc (hoisted into member contexts)
            # or its first declaration char — NOT from hdr_start, which sits
            # right after the previous ';' and would swallow that line
            _, dspan = _java_doc_comment(code, comments, blk.hdr_start, blk.open)
            lo = dspan[0] if dspan else _java_decl_start(
                code, masked, blk.hdr_start, blk.open, dspan)
            used.append((line_of(lo), line_of(blk.close)))
        return had_methods

    for blk in top:
        k, name = _java_classify(masked[blk.hdr_start:blk.open].strip())
        if k in ("class", "interface", "enum", "record"):
            if walk_type(blk, k, name, []):
                continue
            # methodless type chunks whole, doc comment hoisted (:514-523)
            doc, doc_span = _java_doc_comment(code, comments, blk.hdr_start, blk.open)
            decl_start = _java_decl_start(code, masked, blk.hdr_start, blk.open, doc_span)
            body = code[decl_start:blk.close + 1]
            uimp = used_imports_for(masked[decl_start:blk.close + 1], "")
            used_import_keys.update(uimp)
            imp_txts = {code[imports[kk][0]:imports[kk][1]].strip() for kk in uimp}
            rows.append((name, "class", line_of(decl_start), line_of(blk.close),
                         line_of(blk.open), doc,
                         prefix + imports_block(imp_txts) + body))
            lo = doc_span[0] if doc_span else decl_start
            used.append((line_of(lo), line_of(blk.close)))

    for k in used_import_keys:
        a, b = imports[k]
        used.append((line_of(a), line_of(b - 1)))
    # copyright comments dropped (:533-540)
    for a, b in comments:
        if any(w in code[a:b].lower() for w in _COPYRIGHT_WORDS):
            used.append((line_of(a), line_of(b - 1)))

    covered = set()
    for a, b in used:
        covered.update(range(a, b + 1))
    gap: List[int] = []
    gaps: List[Tuple[int, int]] = []
    for i in range(1, len(lines) + 1):
        if i not in covered and lines[i - 1].strip():
            gap.append(i)
        elif gap:
            gaps.append((gap[0], gap[-1]))
            gap = []
    if gap:
        gaps.append((gap[0], gap[-1]))
    for a, b in gaps:
        rows.append(("", "preamble", a, b, a, "", _seg(lines, a, b)))
    rows.sort(key=lambda r: (r[2], r[0]))
    return rows


# ---------------------------------------------------------------------------
# JavaScript / TypeScript: the same composition rules on the same structural
# parser (_TypeScriptFunctionChunker/_JavaScriptFunctionChunker,
# :1194-1278): per-function chunks carry the imports they use; class methods
# carry the class context (signature + fields/properties + constructor);
# doc comments hoist; methodless classes chunk whole; unclaimed top-level
# statements and side-effect imports orphan into preambles. No module
# variables (the reference: TS/JS have none) and no package prefix.
# Template literals are masked wholesale so ${} braces can't skew the tree;
# bare regex literals containing braces are the documented residual gap of
# a non-tree-sitter lexer.
# ---------------------------------------------------------------------------

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


def _chunk_rows_js(code: str) -> List[tuple]:
    """(part_name, chunk_type, start, end, sig_end, docstring, content) —
    the reference's TS/JS composition rules on the structural parser."""
    masked, comments = _java_mask(code)
    lines = code.split("\n")

    def line_of(pos: int) -> int:
        return code.count("\n", 0, pos) + 1

    imports: dict = {}  # identifier → (start, end) of the import statement
    for m in list(_JS_IMPORT_RE.finditer(masked)) + list(_JS_REQUIRE_RE.finditer(masked)):
        clause = m.group(1) or ""
        for ident in _js_import_idents(clause):
            imports[ident] = (m.start(), m.end())

    top = _java_blocks(masked)
    rows: List[tuple] = []
    used: List[Tuple[int, int]] = []
    used_import_keys: set = set()

    def imports_block(keys: set) -> str:
        txts = sorted({code[imports[k][0]:imports[k][1]].strip() for k in keys})
        return ("\n".join(txts) + "\n") if txts else ""

    def used_imports_for(text: str, ctx: str) -> set:
        words = set(_javawords(text))
        return {k for k in imports if k in words or (ctx and k in ctx)}

    def emit_function(blk: "_JBlock", cls: "tuple | None", name: str) -> None:
        doc, doc_span = _java_doc_comment(code, comments, blk.hdr_start, blk.open)
        decl_start = _java_decl_start(code, masked, blk.hdr_start, blk.open, doc_span)
        body = code[decl_start:blk.close + 1]
        ctx = ""
        part = name
        if cls is not None:
            cname, cblk = cls
            ctx = _java_type_context(code, masked, cblk, "class", comments,
                                     ctor_name="constructor")
            part = f"{cname}.{name}"
        uimp = used_imports_for(masked[decl_start:blk.close + 1], ctx)
        used_import_keys.update(uimp)
        content = "".join([
            imports_block(uimp), (ctx + "\n") if ctx else "", body])
        rows.append((part, "function", line_of(decl_start), line_of(blk.close),
                     line_of(blk.open), doc, content))
        lo = doc_span[0] if doc_span else decl_start
        used.append((line_of(lo), line_of(blk.close)))

    for blk in top:
        hdr = masked[blk.hdr_start:blk.open].strip()
        kind, name = _js_classify(hdr)
        if kind == "class":
            methods = [
                (m, mn) for m in blk.children
                for mk, mn in [_java_classify(masked[m.hdr_start:m.open].strip())]
                if mk == "method"
            ]
            if methods:
                for m, mname in methods:
                    emit_function(m, (name, blk), mname)
                _, dspan = _java_doc_comment(code, comments, blk.hdr_start, blk.open)
                lo = dspan[0] if dspan else _java_decl_start(
                    code, masked, blk.hdr_start, blk.open, dspan)
                used.append((line_of(lo), line_of(blk.close)))
            else:  # methodless class chunks whole
                doc, dspan = _java_doc_comment(code, comments, blk.hdr_start, blk.open)
                decl_start = _java_decl_start(code, masked, blk.hdr_start, blk.open, dspan)
                body = code[decl_start:blk.close + 1]
                uimp = used_imports_for(masked[decl_start:blk.close + 1], "")
                used_import_keys.update(uimp)
                rows.append((name, "class", line_of(decl_start), line_of(blk.close),
                             line_of(blk.open), doc, imports_block(uimp) + body))
                lo = dspan[0] if dspan else decl_start
                used.append((line_of(lo), line_of(blk.close)))
        elif kind == "function":
            emit_function(blk, None, name)

    for k in used_import_keys:
        a, b = imports[k]
        used.append((line_of(a), line_of(b - 1)))
    for a, b in comments:
        if any(w in code[a:b].lower() for w in _COPYRIGHT_WORDS):
            used.append((line_of(a), line_of(b - 1)))

    covered = set()
    for a, b in used:
        covered.update(range(a, b + 1))
    gap: List[int] = []
    gaps: List[Tuple[int, int]] = []
    for i in range(1, len(lines) + 1):
        if i not in covered and lines[i - 1].strip():
            gap.append(i)
        elif gap:
            gaps.append((gap[0], gap[-1]))
            gap = []
    if gap:
        gaps.append((gap[0], gap[-1]))
    for a, b in gaps:
        rows.append(("", "preamble", a, b, a, "", _seg(lines, a, b)))
    rows.sort(key=lambda r: (r[2], r[0]))
    return rows


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
    if lang == "python":
        rows = _chunk_rows_python(code)
    elif lang == "java":
        rows = _chunk_rows_java(code)
    elif lang in ("javascript", "js", "typescript", "ts"):
        rows = _chunk_rows_js(code)
    else:
        rows = _chunk_rows_braces(code)
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
