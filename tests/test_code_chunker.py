"""K6 code chunker — hand-asserted composition semantics (the independent
pin behind the committed fixture oracle) plus robustness and Spark wiring."""

import ast
import os

import pyarrow.parquet as pq
import pytest

import docling_spark.operators.code_chunker as cc
from docling_spark.operators.code_chunker import (
    chunk_code_document, code_chunk_sink, synth_code_rows)

FIXTURE = os.path.join(os.path.dirname(__file__), "..", "fixtures", "code_chunks.parquet")

PY = '''# Copyright 2026 Example Corp. All rights reserved.
"""Module docstring."""
import os
import json as j
from math import sqrt

LIMIT = 10
UNUSED = "x"

def area(r):
    """Circle area-ish."""
    return sqrt(r) * LIMIT

class Shape:
    kind = "generic"

    def describe(self):
        """Say what we are."""
        return j.dumps({"kind": self.kind, "cwd": os.getcwd()})

class Empty:
    """Nothing here."""

print(area(2))
'''


def _by_part(code, lang="python"):
    return {r[2]: r for r in chunk_code_document("d", lang, code)}


def test_python_function_chunk_composition():
    rows = _by_part(PY)
    area = rows["area"]
    # used import + used module variable prepended; unused ones absent
    assert "from math import sqrt" in area[8]
    assert "LIMIT = 10" in area[8]
    assert "import os" not in area[8] and "UNUSED" not in area[8]
    # docstring hoisted to metadata, stripped from content
    assert area[7] == "Circle area-ish."
    assert "Circle area-ish" not in area[8]
    # line metadata
    assert (area[4], area[5], area[6]) == (10, 12, 10)


def test_python_method_gets_class_context():
    desc = _by_part(PY)["Shape.describe"]
    assert "class Shape:" in desc[8]
    assert 'kind = "generic"' in desc[8]          # class-level field
    assert "import os" in desc[8] and "json as j" in desc[8]
    assert "def area" not in desc[8]              # sibling functions excluded
    assert desc[7] == "Say what we are."


def test_python_empty_class_and_orphans():
    rows = chunk_code_document("d", "python", PY)
    empty = [r for r in rows if r[2] == "Empty"][0]
    assert empty[3] == "class" and empty[7] == "Nothing here."
    assert "pass" in empty[8]                     # docstring-only body stays valid
    pre = [r for r in rows if r[3] == "preamble"]
    texts = "\n".join(r[8] for r in pre)
    assert "print(area(2))" in texts              # trailing orphan
    assert "Module docstring" in texts            # module docstring orphan
    assert "Copyright" not in texts               # copyright comment dropped
    assert "UNUSED" in texts                      # unclaimed module var orphaned


def test_function_chunk_content_is_valid_python():
    for r in chunk_code_document("d", "python", PY):
        if r[3] in ("function", "class"):
            ast.parse(r[8])                       # composition stays parseable


def test_brace_languages_and_bad_input():
    c = _by_part("int add(int a, int b) {\n  return a + b;\n}\n// tail\n", "c")
    assert "add" in c and c["add"][3] == "function"
    js = chunk_code_document("d", "javascript",
                             "function f(x) {\n  if (x) { return 1; }\n  return 0;\n}\n")
    fns = [r for r in js if r[3] == "function"]
    assert len(fns) == 1 and fns[0][2] == "f"     # nested braces matched once
    # unparseable python degrades to one preamble chunk, never raises
    bad = chunk_code_document("d", "python", "def broken(:\n  nope")
    assert len(bad) == 1 and bad[0][3] == "preamble"


def test_token_budget_split():
    body = "\n".join(f"    x{i} = {i}" for i in range(400))
    code = f"def big():\n{body}\n"
    rows = chunk_code_document("d", "python", code, max_tokens=200)
    fn_rows = [r for r in rows if r[2] == "big"]
    assert len(fn_rows) > 1                       # split under the budget
    assert all(r[9] <= 200 or "\n" not in r[8] for r in fn_rows)
    # reassembles exactly
    assert "\n".join(r[8] for r in fn_rows) == f"def big():\n{body}"


def test_code_chunk_sink_spark(spark):
    df = spark.createDataFrame(synth_code_rows(8, 7),
                               "doc_id string, language string, code string")
    out = code_chunk_sink(df).collect()
    assert len(out) > 8
    got = {(r["doc_id"], r["chunk_id"]): r for r in out}
    expected = []
    for doc_id, lang, code in synth_code_rows(8, 7):
        expected.extend(chunk_code_document(doc_id, lang, code))
    assert len(got) == len(expected)
    for e in expected:
        r = got[(e[0], e[1])]
        assert (r["part_name"], r["content"], r["docstring"]) == (e[2], e[8], e[7])


def test_chunker_never_raises_fuzz():
    # arbitrary garbage — including null bytes, lone surrogpark escapes,
    # deep nesting — must degrade to chunks, never a task failure
    import random

    rng = random.Random(5)
    alphabet = "def class(){}:=\n\t '\"#\x00abc123+-*/@\\"
    for lang in ("python", "c", "javascript"):
        for _ in range(150):
            code = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 200)))
            rows = chunk_code_document("d", lang, code)
            # every content line comes from somewhere; schema width holds
            for r in rows:
                assert len(r) == 10
    # pathological deep nesting (ast recursion guard path)
    deep = "(" * 300 + ")" * 300
    assert chunk_code_document("d", "python", deep)[0][3] == "preamble"


def test_python_bare_cr_line_endings():
    # `ast` ends a line at a bare '\r' but the chunker's lines split on
    # '\n' only, so node line numbers can run past the document's end;
    # those ranges clamp to the last line instead of failing the row
    assert chunk_code_document("d", "python", "x = 1\ry = 2\ndef f():\n    return 1") == [
        ("d", 0, "", "preamble", 1, 2, 1, "", "x = 1\ry = 2\ndef f():", 12),
        ("d", 1, "f", "function", 3, 4, 3, "", "    return 1", 5),
    ]
    code = "def f():\r    return 1\r\rclass A:\r    def g(self):\r        pass\r"
    assert chunk_code_document("d", "python", code) == [
        ("d", 0, "f", "function", 1, 2, 1, "", code, 25),
        ("d", 1, "A.g", "function", 5, 6, 5, "", "", 0),
    ]


def test_java_composition_chunker():
    java = (
        "import java.util.List;\n\n"
        "public class Calc {\n"
        "    public static int add(int a, int b) {\n"
        "        if (a > 0) { return a + b; }\n"
        "        return b;\n"
        "    }\n"
        "}\n"
    )
    rows = chunk_code_document("d", "java", java)
    fns = {r[2]: r for r in rows if r[3] == "function"}
    assert "Calc.add" in fns
    content = fns["Calc.add"][8]
    assert "return a + b" in content
    assert "public class Calc {" in content    # class context prepended
    # the List import is unused by add() -> not in the chunk, orphaned
    assert "import java.util.List" not in content
    preamble = "\n".join(r[8] for r in rows if r[3] == "preamble")
    assert "import java.util.List" in preamble


def test_control_flow_headers_are_not_functions():
    # top-level `if (cond) { ... }` must land in preamble, not become a
    # chunk_type='function' named 'if' (ADVICE r4: _BRACE_FN_RE matched
    # control-flow headers)
    js = (
        "const LIMIT = 10;\n"
        "if (process.env.DEBUG) {\n"
        "    console.log('debug on');\n"
        "}\n"
        "while (queue.length) {\n"
        "    queue.pop();\n"
        "}\n"
        "function realWork(x) {\n"
        "    switch (x) { case 1: return 2; }\n"
        "    return x;\n"
        "}\n"
    )
    rows = chunk_code_document("d", "javascript", js)
    fn_names = {r[2] for r in rows if r[3] == "function"}
    assert fn_names == {"realWork"}
    preamble = "\n".join(r[8] for r in rows if r[3] == "preamble")
    assert "debug on" in preamble and "queue.pop" in preamble


_JAVA_RICH = '''/* Copyright 2024 Example Corp. Licensed under Apache-2.0. */
package com.example.app;

import java.util.List;
import java.util.Map;
import java.io.IOException;
import com.example.util.*;

/** Greets people. */
public class Greeter {
    /** Default salutation. */
    private static final String GREETING = "Hello";
    private final List<String> names;

    static {
        System.out.println("init");
    }

    public Greeter(List<String> names) {
        this.names = names;
    }

    /**
     * Greet everyone.
     * @return joined greeting
     */
    public String greetAll() throws IOException {
        StringBuilder sb = new StringBuilder();
        for (String n : names) {
            sb.append(GREETING).append(", ").append(n);
        }
        return sb.toString();
    }

    public Map<String, Integer> count() {
        return null;
    }
}

/** A methodless marker. */
class Marker {
    int flag = 1;
}

enum Day {
    MON, TUE;

    public String lower() {
        return name().toLowerCase();
    }
}
'''


def test_java_composition_rules_pinned():
    """Pins the reference's Java composition rules
    (_language_code_chunkers.py:1434-1664) on the structural parser:
    used-import selection, package prefix, class context (fields + static
    init + constructor), javadoc hoisting, methodless-class whole chunks,
    enum constant context, copyright-comment dropping."""
    rows = chunk_code_document("d", "java", _JAVA_RICH)
    by_part = {r[2]: r for r in rows}

    # every member chunk exists with the right type
    assert by_part["Greeter.greetAll"][3] == "function"
    assert by_part["Greeter.Greeter"][3] == "function"     # constructor
    assert by_part["Greeter.count"][3] == "function"
    assert by_part["Marker"][3] == "class"                  # methodless
    assert by_part["Day.lower"][3] == "function"

    g = by_part["Greeter.greetAll"]
    # javadoc hoisted: in metadata, not in content
    assert "Greet everyone" in g[7]
    assert "Greet everyone" not in g[8]
    # package prefix + USED imports only (IOException via throws, List via
    # class context), wildcard import always included, Map unused -> absent
    assert g[8].startswith("package com.example.app;")
    assert "import java.io.IOException;" in g[8]
    assert "import java.util.List;" in g[8]
    assert "import com.example.util.*;" in g[8]
    assert "import java.util.Map" not in g[8]
    # class context: signature, fields, static initializer, constructor
    assert "public class Greeter {" in g[8]
    assert 'GREETING = "Hello"' in g[8]
    assert 'System.out.println("init")' in g[8]
    assert "public Greeter(List<String> names)" in g[8]
    # the method body itself, with its loop
    assert "sb.append(GREETING)" in g[8]

    c = by_part["Greeter.count"]
    assert "import java.util.Map;" in c[8]        # used here
    assert "import java.io.IOException" not in c[8]

    m = by_part["Marker"]
    assert m[7] == "/** A methodless marker. */"  # class javadoc hoisted
    assert "int flag = 1;" in m[8]

    d = by_part["Day.lower"]
    assert "MON, TUE;" in d[8]                    # enum constants as context
    assert "enum Day {" in d[8]

    # copyright comment dropped entirely
    all_text = "\n".join(r[8] for r in rows)
    assert "Copyright 2024" not in all_text
    # the only orphan is the wildcard import: it joins every chunk's import
    # block but is never identifier-matched as used — exactly the
    # reference's range semantics (_build_imports adds it to set_imports,
    # _find_used_imports never returns it, so its range stays unclaimed)
    pre = [r for r in rows if r[3] == "preamble"]
    assert [p[8] for p in pre] == ["import com.example.util.*;"]


def test_java_nested_class_context_chain():
    java = (
        "public class Outer {\n"
        "    private int base = 1;\n"
        "    public static class Inner {\n"
        "        private int extra = 2;\n"
        "        public int sum() {\n"
        "            return extra;\n"
        "        }\n"
        "    }\n"
        "}\n"
    )
    rows = chunk_code_document("d", "java", java)
    by_part = {r[2]: r for r in rows}
    s = by_part["Outer.Inner.sum"]
    assert s[3] == "function"
    # ancestor chain outer->inner, each with its fields
    assert "public class Outer {" in s[8]
    assert "private int base = 1;" in s[8]
    assert "public static class Inner {" in s[8]
    assert "private int extra = 2;" in s[8]
    assert s[8].index("Outer") < s[8].index("Inner")


def test_java_interface_and_text_block():
    java = (
        "import java.util.List;\n\n"
        "public interface Repo {\n"
        "    String BANNER = \"\"\"\n"
        "        {not a brace}\n"
        "        \"\"\";\n"
        "    List<String> all();\n"
        "    default int size() {\n"
        "        return all().size();\n"
        "    }\n"
        "}\n"
    )
    rows = chunk_code_document("d", "java", java)
    by_part = {r[2]: r for r in rows}
    s = by_part["Repo.size"]
    # abstract signature + constant are context; braces in the text block
    # did not confuse the parser; List used via context
    assert "List<String> all();" in s[8]
    assert "BANNER" in s[8]
    assert "import java.util.List;" in s[8]


_JS_RICH = '''// Copyright 2024 Example. All rights reserved.
import React, { useState, useEffect as ue } from 'react';
import * as fs from 'fs';
import './styles.css';
const path = require('path');

const LIMIT = 10;

/** Greet a user. */
export function greet(name) {
    const [x] = useState(0);
    return `hello ${name} ${LIMIT + x}`;
}

const area = async (r) => {
    ue(() => {});
    return Math.PI * r * r;
};

/** A service class. */
export class Service {
    baseUrl = '/api';
    handler = () => { return fs.readFileSync(this.baseUrl); };

    constructor(client) {
        this.client = client;
    }

    async fetchAll() {
        if (this.client) { return this.client.get(this.baseUrl); }
        return null;
    }
}

class Empty {
    tag = 'e';
}
'''


def test_js_composition_rules_pinned():
    """Pins the reference's TS/JS composition rules
    (_language_code_chunkers.py:1194-1278): named/default/namespace/require
    import binding, arrow-function chunks, class context with properties +
    constructor, doc hoisting, methodless classes, side-effect-import and
    stray-statement preambles, template-literal masking."""
    rows = chunk_code_document("d", "javascript", _JS_RICH)
    by_part = {r[2]: r for r in rows}

    g = by_part["greet"]
    assert g[3] == "function" and g[7] == "/** Greet a user. */"
    assert "import React, { useState, useEffect as ue } from 'react';" in g[8]
    assert "import * as fs" not in g[8]        # unused here
    assert "Greet a user" not in g[8]          # hoisted out of content
    # template literal with ${} parsed through (braces masked)
    assert "`hello ${name} ${LIMIT + x}`" in g[8]

    a = by_part["area"]                         # const … = async (…) => {…}
    assert a[3] == "function"
    assert "useEffect as ue" in a[8]            # alias match counts as use

    f = by_part["Service.fetchAll"]
    assert "export class Service {" in f[8]
    assert "baseUrl = '/api';" in f[8]          # class property as context
    # arrow-function property stays ONE intact field in the context
    assert "handler = () => { return fs.readFileSync(this.baseUrl); };" in f[8]
    assert "constructor(client)" in f[8]        # ctor in context
    assert "import * as fs from 'fs';" in f[8]  # used via context

    c = by_part["Service.constructor"]
    assert c[3] == "function"

    e = by_part["Empty"]
    assert e[3] == "class" and "tag = 'e';" in e[8]

    pre = "\n".join(r[8] for r in rows if r[3] == "preamble")
    assert "import './styles.css';" in pre      # side-effect import orphans
    assert "const path = require('path');" in pre  # bound but never used
    assert "const LIMIT = 10;" in pre           # no module vars in TS/JS
    assert "Copyright 2024" not in pre          # copyright dropped


def test_js_require_destructuring_and_reuse():
    js = (
        "const { readFile, join: pjoin } = require('node:path');\n\n"
        "function f(p) {\n"
        "    return pjoin(p, 'x');\n"
        "}\n"
    )
    rows = chunk_code_document("d", "javascript", js)
    f = {r[2]: r for r in rows}["f"]
    assert "require('node:path')" in f[8]       # alias use binds the import


DEEP = 20_000  # far past Python's recursion limit (1,000)


def _deep_java(depth):
    blocks = "{" * depth + "x++;" + "}" * depth
    return ("package p;\nimport java.util.List;\n\n"
            "public class Deep {\n"
            f"    void nest(List<String> xs) {{ int x = 0; {blocks} }}\n"
            "    int two() { return 2; }\n"
            "}\n")


def _nested_types(names):
    return "".join(f"class {n} {{ " for n in names) + "void m() {} " + "} " * len(names)


@pytest.mark.parametrize("lang", ["java", "javascript", "java_types"])
def test_deep_nesting_chunks(lang):
    # a document nested deeper than Python's recursion limit is chunked, not
    # lost to a RecursionError; its methods chunk as at any depth
    if lang == "java_types":
        names = [f"C{i}" for i in range(DEEP)]
        rows = chunk_code_document("d", "java", _nested_types(names))
        # one method chunk under the context of every enclosing type, split
        # under the token budget
        assert {r[2:7] for r in rows} == {(".".join(names) + ".m", "function", 1, 1, 1)}
        assert "\n".join(r[8] for r in rows) == (
            "".join(f"class {n} {{\n}}\n" for n in names) + "void m() {}")
        return
    if lang == "java":
        code = _deep_java(DEEP)
        want = {"Deep.nest", "Deep.two"}
    else:
        code = ("import { a } from 'm';\n"
                f"function nest(x) {{ {'{' * DEEP}a(x);{'}' * DEEP} }}\n"
                "function two() { return 2; }\n")
        want = {"nest", "two"}
    rows = chunk_code_document("d", lang, code)
    assert {r[2] for r in rows if r[3] == "function"} == want
    # the same chunks as the shallow form (the deep body also splits under
    # the token budget, repeating its chunk's metadata)
    shallow = chunk_code_document("d", lang, code.replace("{" * DEEP, "{").replace("}" * DEEP, "}"))
    assert {r[2:8] for r in rows} == {r[2:8] for r in shallow}


def test_code_chunk_sink_deep_nesting_spark(spark):
    rows = [("deep", "java", _deep_java(DEEP)), ("flat", "java", _deep_java(1))]
    df = spark.createDataFrame(rows, "doc_id string, language string, code string")
    got = [tuple(r) for r in code_chunk_sink(df).orderBy("doc_id", "chunk_id").collect()]
    expected = sorted(r for doc_id, lang, code in rows
                      for r in chunk_code_document(doc_id, lang, code))
    assert got == expected
    assert {r[2] for r in got if r[0] == "deep"} >= {"Deep.nest", "Deep.two"}


@pytest.mark.parametrize("lang", ["java", "javascript"])
def test_type_context_built_once_per_type(lang, monkeypatch):
    # every method of a type shares its context (and its enclosing types'),
    # built once per type, not once per method
    built = []
    real = cc._type_context

    def counting(bd, blk, members, ctor):
        built.append(blk.open)
        return real(bd, blk, members, ctor)

    monkeypatch.setattr(cc, "_type_context", counting)
    if lang == "java":
        methods = "".join(f"    int m{i}() {{ return {i}; }}\n" for i in range(300))
        code = ("public class Big {\n" + methods
                + "    static class Inner {\n" + methods + "    }\n}\n")
        want_types = 2
    else:
        methods = "".join(f"    m{i}() {{ return {i}; }}\n" for i in range(300))
        code = "class Big {\n" + methods + "}\n"
        want_types = 1
    rows = chunk_code_document("d", lang, code)
    assert len([r for r in rows if r[3] == "function"]) == 300 * want_types
    assert len(built) == len(set(built)) == want_types


def test_code_chunk_fixture_pinned():
    # the committed code_chunks oracle, without Spark
    rows = [r for doc_id, lang, code in synth_code_rows(16, 7)
            for r in chunk_code_document(doc_id, lang, code)]
    want = [tuple(r.values()) for r in pq.read_table(FIXTURE).to_pylist()]
    assert rows == want


def test_code_chunk_sink_null_code_spark(spark):
    # a null `code` is an empty file: no chunks, and the rows around it chunk
    good = [("a", "java", _deep_java(1)), ("b", "python", PY)]
    nulls = [(f"null-{lang}", lang, None) for lang in ("java", "javascript", "python", "c")]
    df = spark.createDataFrame(good[:1] + nulls + good[1:],
                               "doc_id string, language string, code string")
    got = [tuple(r) for r in code_chunk_sink(df).orderBy("doc_id", "chunk_id").collect()]
    assert got == [r for doc_id, lang, code in good
                   for r in chunk_code_document(doc_id, lang, code)]
