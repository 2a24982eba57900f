"""GraphQL document executor over ``GraphQLResolvers``.

The reference serves its GraphQL endpoint through gqlgen's generated
executor (``app/rest/graph/generated/generated.go``), which accepts any
spec-conformant query document. This module re-implements the part of
that surface the schema actually exercises — full query documents with
multiple top-level fields, aliases, nested selection sets, named and
inline fragments, variables with defaults, and ``@skip``/``@include``
— on top of the 33 resolver methods in :mod:`evm_indexer_spark.graphql`.

The lexer/parser follow the public GraphQL specification (October 2021
edition, spec.graphql.org): ignored tokens (commas, comments), the
value grammar (Int/Float/String/block-string/Enum/List/Object/Variable
/Boolean/Null) and the executable-definition grammar. Mutations and
subscriptions are rejected — the reference schema defines none, and its
live-subscription path is the WebSocket endpoint, not GraphQL.

Error semantics mirror gqlgen's: a field whose resolver raises
contributes an entry to ``errors`` and a ``null`` under its response
key; parse/validation failures produce a top-level ``errors`` envelope
with no ``data``.
"""

from __future__ import annotations

import json
import re
from typing import Any

from .errors import NotFoundError, ValidationError

__all__ = ["GraphQLExecutionError", "parse_document", "GraphQLExecutor"]


class GraphQLExecutionError(Exception):
    """Raised for syntax/validation failures before field execution."""


# --------------------------------------------------------------------------
# Lexer (spec §2.1: punctuators, names, numbers, strings; commas and
# comments are ignored tokens)

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>[\s,﻿]+)
  | (?P<comment>\#[^\n\r]*)
  | (?P<spread>\.\.\.)
  | (?P<punct>[!$()\[\]{}:=@|&])
  | (?P<block>\"\"\"(?:[^"\\]|\\.|"(?!""))*\"\"\")
  | (?P<string>"(?:[^"\\\n\r]|\\.)*")
  | (?P<float>-?(?:0|[1-9]\d*)(?:\.\d+(?:[eE][+-]?\d+)?|[eE][+-]?\d+))
  | (?P<int>-?(?:0|[1-9]\d*))
  | (?P<name>[_A-Za-z][_0-9A-Za-z]*)
""",
    re.X,
)

_ESCAPES = {
    '"': '"', "\\": "\\", "/": "/", "b": "\b",
    "f": "\f", "n": "\n", "r": "\r", "t": "\t",
}


def _unescape(body: str) -> str:
    out, i = [], 0
    while i < len(body):
        c = body[i]
        if c == "\\" and i + 1 < len(body):
            nxt = body[i + 1]
            if nxt == "u" and i + 5 < len(body):
                out.append(chr(int(body[i + 2 : i + 6], 16)))
                i += 6
                continue
            out.append(_ESCAPES.get(nxt, nxt))
            i += 2
            continue
        out.append(c)
        i += 1
    return "".join(out)


def _tokenize(src: str) -> list[tuple[str, Any]]:
    tokens: list[tuple[str, Any]] = []
    pos = 0
    while pos < len(src):
        m = _TOKEN_RE.match(src, pos)
        if not m:
            raise GraphQLExecutionError(
                f"Syntax Error: unexpected character {src[pos]!r}"
            )
        pos = m.end()
        kind = m.lastgroup
        if kind in ("ws", "comment"):
            continue
        text = m.group()
        if kind == "block":
            tokens.append(("string", text[3:-3]))
        elif kind == "string":
            tokens.append(("string", _unescape(text[1:-1])))
        elif kind == "int":
            tokens.append(("int", int(text)))
        elif kind == "float":
            tokens.append(("float", float(text)))
        elif kind == "spread":
            tokens.append(("...", "..."))
        elif kind == "punct":
            tokens.append((text, text))
        else:
            tokens.append(("name", text))
    tokens.append(("<eof>", None))
    return tokens


# --------------------------------------------------------------------------
# Parser (spec §2.2-2.10 executable definitions); AST as plain dicts


class _Parser:
    def __init__(self, src: str) -> None:
        self.toks = _tokenize(src)
        self.i = 0

    def peek(self) -> tuple[str, Any]:
        return self.toks[self.i]

    def next(self) -> tuple[str, Any]:
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, kind: str) -> Any:
        k, v = self.next()
        if k != kind:
            raise GraphQLExecutionError(
                f"Syntax Error: expected {kind!r}, found {v!r}"
            )
        return v

    def expect_name(self, value: str | None = None) -> str:
        v = self.expect("name")
        if value is not None and v != value:
            raise GraphQLExecutionError(
                f"Syntax Error: expected {value!r}, found {v!r}"
            )
        return v

    # Document ::= Definition+
    def document(self) -> dict[str, Any]:
        ops, frags = [], {}
        while self.peek()[0] != "<eof>":
            k, v = self.peek()
            if k == "{":
                ops.append(
                    {
                        "type": "query",
                        "name": None,
                        "vars": [],
                        "selections": self.selection_set(),
                    }
                )
            elif k == "name" and v in ("query", "mutation", "subscription"):
                ops.append(self.operation())
            elif k == "name" and v == "fragment":
                f = self.fragment_definition()
                frags[f["name"]] = f
            else:
                raise GraphQLExecutionError(
                    f"Syntax Error: unexpected {v!r} at document level"
                )
        if not ops:
            raise GraphQLExecutionError("document contains no operations")
        return {"operations": ops, "fragments": frags}

    def operation(self) -> dict[str, Any]:
        op_type = self.expect("name")
        name = None
        if self.peek()[0] == "name":
            name = self.next()[1]
        vars_ = []
        if self.peek()[0] == "(":
            self.next()
            while self.peek()[0] != ")":
                self.expect("$")
                var_name = self.expect("name")
                self.expect(":")
                var_type = self.type_ref()
                default = None
                has_default = False
                if self.peek()[0] == "=":
                    self.next()
                    default = self.value(const=True)
                    has_default = True
                vars_.append(
                    {
                        "name": var_name,
                        "type": var_type,
                        "default": default,
                        "has_default": has_default,
                    }
                )
            self.next()  # ')'
        self.directives()  # operation directives: parsed, ignored
        return {
            "type": op_type,
            "name": name,
            "vars": vars_,
            "selections": self.selection_set(),
        }

    def fragment_definition(self) -> dict[str, Any]:
        self.expect_name("fragment")
        name = self.expect("name")
        if name == "on":
            raise GraphQLExecutionError("fragment name may not be 'on'")
        self.expect_name("on")
        type_cond = self.expect("name")
        self.directives()
        return {
            "name": name,
            "type_condition": type_cond,
            "selections": self.selection_set(),
        }

    def type_ref(self) -> str:
        if self.peek()[0] == "[":
            self.next()
            inner = self.type_ref()
            self.expect("]")
            ref = f"[{inner}]"
        else:
            ref = self.expect("name")
        if self.peek()[0] == "!":
            self.next()
            ref += "!"
        return ref

    def selection_set(self) -> list[dict[str, Any]]:
        self.expect("{")
        selections = []
        while self.peek()[0] != "}":
            selections.append(self.selection())
        self.next()  # '}'
        if not selections:
            raise GraphQLExecutionError("selection set may not be empty")
        return selections

    def selection(self) -> dict[str, Any]:
        if self.peek()[0] == "...":
            self.next()
            k, v = self.peek()
            if k == "name" and v != "on":
                name = self.next()[1]
                return {
                    "kind": "fragment_spread",
                    "name": name,
                    "directives": self.directives(),
                }
            type_cond = None
            if k == "name" and v == "on":
                self.next()
                type_cond = self.expect("name")
            directives = self.directives()
            return {
                "kind": "inline_fragment",
                "type_condition": type_cond,
                "directives": directives,
                "selections": self.selection_set(),
            }
        alias = None
        name = self.expect("name")
        if self.peek()[0] == ":":
            self.next()
            alias, name = name, self.expect("name")
        args = {}
        if self.peek()[0] == "(":
            self.next()
            while self.peek()[0] != ")":
                arg_name = self.expect("name")
                self.expect(":")
                args[arg_name] = self.value()
            self.next()
        directives = self.directives()
        sub = None
        if self.peek()[0] == "{":
            sub = self.selection_set()
        return {
            "kind": "field",
            "alias": alias,
            "name": name,
            "args": args,
            "directives": directives,
            "selections": sub,
        }

    def directives(self) -> list[dict[str, Any]]:
        out = []
        while self.peek()[0] == "@":
            self.next()
            name = self.expect("name")
            args = {}
            if self.peek()[0] == "(":
                self.next()
                while self.peek()[0] != ")":
                    arg_name = self.expect("name")
                    self.expect(":")
                    args[arg_name] = self.value()
                self.next()
            out.append({"name": name, "args": args})
        return out

    def value(self, const: bool = False) -> dict[str, Any]:
        k, v = self.peek()
        if k == "$":
            if const:
                raise GraphQLExecutionError(
                    "variables are not allowed in default values"
                )
            self.next()
            return {"kind": "variable", "name": self.expect("name")}
        if k in ("int", "float", "string"):
            self.next()
            return {"kind": "literal", "value": v}
        if k == "name":
            self.next()
            if v == "true":
                return {"kind": "literal", "value": True}
            if v == "false":
                return {"kind": "literal", "value": False}
            if v == "null":
                return {"kind": "literal", "value": None}
            return {"kind": "enum", "value": v}
        if k == "[":
            self.next()
            items = []
            while self.peek()[0] != "]":
                items.append(self.value(const))
            self.next()
            return {"kind": "list", "items": items}
        if k == "{":
            self.next()
            fields = {}
            while self.peek()[0] != "}":
                f = self.expect("name")
                self.expect(":")
                fields[f] = self.value(const)
            self.next()
            return {"kind": "object", "fields": fields}
        raise GraphQLExecutionError(f"Syntax Error: unexpected value {v!r}")


def parse_document(src: str) -> dict[str, Any]:
    return _Parser(src).document()


# --------------------------------------------------------------------------
# Executor


def _camel_to_snake(name: str) -> str:
    return re.sub(r"(?<=[a-z0-9])([A-Z])", r"_\1", name).lower()


# schema arg name -> resolver parameter name (schema.graphqls uses
# `from` — a Python keyword — and camelCase account-pair args)
_ARG_ALIASES = {"from": "frm", "fromAccount": "fa", "toAccount": "ta"}


def _typename(obj: dict[str, Any]) -> str | None:
    # model dicts carry distinctive keys (graphql.block_model/tx_model/
    # event_model); gqlgen would emit the schema type name here
    if "miner" in obj:
        return "Block"
    if "gasPrice" in obj:
        return "Transaction"
    if "origin" in obj:
        return "Event"
    return None


class GraphQLExecutor:
    """Execute query documents against a ``GraphQLResolvers`` instance."""

    def __init__(self, resolvers) -> None:
        self.resolvers = resolvers

    # -- value / directive resolution -----------------------------------

    def _resolve_value(self, node: dict[str, Any], variables: dict[str, Any]):
        kind = node["kind"]
        if kind == "literal":
            return node["value"]
        if kind == "enum":
            return node["value"]
        if kind == "variable":
            if node["name"] not in variables:
                raise GraphQLExecutionError(
                    f"variable ${node['name']} is not defined"
                )
            return variables[node["name"]]
        if kind == "list":
            return [self._resolve_value(i, variables) for i in node["items"]]
        if kind == "object":
            return {
                k: self._resolve_value(v, variables)
                for k, v in node["fields"].items()
            }
        raise GraphQLExecutionError(f"unknown value kind {kind!r}")

    def _included(self, directives, variables) -> bool:
        for d in directives or []:
            if d["name"] in ("skip", "include"):
                cond = d["args"].get("if")
                val = bool(self._resolve_value(cond, variables)) if cond else False
                if d["name"] == "skip" and val:
                    return False
                if d["name"] == "include" and not val:
                    return False
        return True

    # -- selection machinery --------------------------------------------

    def _flatten(self, selections, fragments, variables, seen=()):
        """Expand fragment spreads/inline fragments into a field list.

        Type conditions are accepted un-checked: the reference schema has
        no interfaces/unions, so a fragment can only ever be spread into
        its matching type."""
        fields = []
        for sel in selections:
            if not self._included(sel.get("directives"), variables):
                continue
            kind = sel["kind"]
            if kind == "field":
                fields.append(sel)
            elif kind == "inline_fragment":
                fields.extend(
                    self._flatten(sel["selections"], fragments, variables, seen)
                )
            elif kind == "fragment_spread":
                name = sel["name"]
                if name in seen:
                    raise GraphQLExecutionError(
                        f"fragment cycle detected at {name!r}"
                    )
                frag = fragments.get(name)
                if frag is None:
                    raise GraphQLExecutionError(
                        f"unknown fragment {name!r}"
                    )
                fields.extend(
                    self._flatten(
                        frag["selections"], fragments, variables, seen + (name,)
                    )
                )
        return fields

    def _project(self, value, selections, fragments, variables):
        """Apply a selection set to a resolved value, recursively."""
        if value is None or selections is None:
            return value
        if isinstance(value, list):
            return [
                self._project(v, selections, fragments, variables)
                for v in value
            ]
        if not isinstance(value, dict):
            return value
        out: dict[str, Any] = {}
        for sel in self._flatten(selections, fragments, variables):
            key = sel["alias"] or sel["name"]
            if sel["name"] == "__typename":
                out[key] = _typename(value)
                continue
            child = value.get(sel["name"])
            out[key] = self._project(
                child, sel["selections"], fragments, variables
            )
        return out

    # -- entry point -----------------------------------------------------

    def execute(
        self,
        query: str,
        variables: dict[str, Any] | None = None,
        operation_name: str | None = None,
    ) -> dict[str, Any]:
        try:
            doc = parse_document(query or "")
            op = self._pick_operation(doc, operation_name)
            if op["type"] != "query":
                raise GraphQLExecutionError(
                    f"unsupported operation type {op['type']!r}"
                )
            coerced = self._coerce_variables(op["vars"], variables or {})
        except GraphQLExecutionError as e:
            return {"errors": [{"message": str(e)}]}

        data: dict[str, Any] = {}
        errors: list[dict[str, Any]] = []
        try:
            root_fields = self._flatten(
                op["selections"], doc["fragments"], coerced
            )
        except GraphQLExecutionError as e:
            return {"errors": [{"message": str(e)}]}
        for sel in root_fields:
            key = sel["alias"] or sel["name"]
            if sel["name"] == "__typename":
                data[key] = "Query"
                continue
            try:
                result = self._resolve_root(sel, coerced)
                data[key] = self._project(
                    result, sel["selections"], doc["fragments"], coerced
                )
            except (ValidationError, NotFoundError, GraphQLExecutionError) as e:
                errors.append({"message": str(e), "path": [key]})
                data[key] = None
            except Exception:
                # gqlgen recovers resolver panics into a generic envelope
                # entry rather than a 500 (graph/generated panic handler);
                # mirror that for unexpected resolver/Spark failures.
                errors.append(
                    {"message": "internal system error", "path": [key]}
                )
                data[key] = None
        envelope: dict[str, Any] = {"data": data}
        if errors:
            envelope["errors"] = errors
        return envelope

    def _pick_operation(self, doc, operation_name):
        ops = doc["operations"]
        if operation_name is not None:
            for op in ops:
                if op["name"] == operation_name:
                    return op
            raise GraphQLExecutionError(
                f"unknown operation {operation_name!r}"
            )
        if len(ops) > 1:
            raise GraphQLExecutionError(
                "operationName is required for multi-operation documents"
            )
        return ops[0]

    def _coerce_variables(self, var_defs, provided):
        coerced: dict[str, Any] = {}
        for vd in var_defs:
            name = vd["name"]
            if name in provided:
                coerced[name] = provided[name]
            elif vd["has_default"]:
                coerced[name] = self._resolve_value(vd["default"], {})
            elif vd["type"].endswith("!"):
                raise GraphQLExecutionError(
                    f"variable ${name} of required type {vd['type']} "
                    "was not provided"
                )
        return coerced

    def _resolve_root(self, sel, variables):
        # Schema field names are wired through graphql.FIELD_MAP — the
        # authoritative camelCase→resolver mapping (parity checklist vs
        # schema.graphqls). _camel_to_snake alone mis-splits runs like
        # lastXEventsFromContract → last_xevents_from_contract.
        from .graphql import FIELD_MAP

        resolver_name = FIELD_MAP.get(sel["name"])
        if resolver_name is None:
            resolver_name = _camel_to_snake(sel["name"])
        method = getattr(self.resolvers, resolver_name, None)
        if method is None or sel["name"].startswith("_"):
            raise GraphQLExecutionError(f"unknown field {sel['name']!r}")
        import inspect

        args = {
            _ARG_ALIASES.get(k, k): self._resolve_value(v, variables)
            for k, v in sel["args"].items()
        }
        sig_params = [
            p for p in inspect.signature(method).parameters if p != "self"
        ]
        call_args = []
        for p in sig_params:
            if p not in args:
                raise GraphQLExecutionError(f"missing argument {p!r}")
            call_args.append(args[p])
        return method(*call_args)
