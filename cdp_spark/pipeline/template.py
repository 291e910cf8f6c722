"""Pipeline template parsing + validation.

Parity with the reference front-end:
- template schema (src/api.ts:186-235),
- per-step invariants (src/api.ts:254-293): at most one of
  match/drop|match/pass, exactly one of flatmap|reduce, valid
  patterns, window bounds with string coercion, at most one of
  jq-expr|jsonnet-expr,
- DAG soundness (src/pipeline.ts:55-99): reserved $input name, unique
  step names, dangling references, cycle detection,
- ${VAR} environment substitution (src/utils.ts:105-120) applied by
  from_yaml when requested (the -e flag path, src/index.ts:19-23).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Optional

import yaml

from ..operators.rename import validate_rename
from ..patterns import Pattern, is_valid_pattern
from ..utils import envsubst

INPUT_ALIAS = "$input"

INPUT_FORMS = {
    "generator",
    "stdin",
    "tail",
    "http",
    "poll",
    "amqp",
    "mqtt",
    "redis",
    # engine extension: direct batch/streaming file-table input
    "file",
}

STEP_FUNCTIONS = {
    "rename",
    "deduplicate",
    "keep",
    "keep-when",
    "send-stdout",
    "send-file",
    "send-http",
    "send-amqp",
    "send-mqtt",
    "send-redis",
    "expose-http",
    "send-receive-jq",
    "send-receive-jsonnet",
    "send-receive-http",
}


class TemplateError(ValueError):
    pass


@dataclass
class StepDef:
    name: str
    after: list[str]
    pattern: Optional[Pattern]
    pattern_mode: str  # "drop" | "pass"
    window_events: int
    window_seconds: float
    function_mode: str  # "reduce" | "flatmap"
    function_name: str
    function_options: Any
    # engine extension: None = one shared buffer (reference parity);
    # "name" / "data.<path>" = per-key buffers (the scale twin)
    window_key: Optional[str] = None


@dataclass
class PipelineTemplate:
    name: str
    input_form: str
    input_options: Any
    steps: list[StepDef] = field(default_factory=list)
    jq_prelude: Optional[str] = None
    jsonnet_prelude: Optional[str] = None
    raw: Any = None


def _check(cond: bool, message: str) -> None:
    if not cond:
        raise TemplateError(message)


def _validate_step_function(step: str, fn: str, options: Any) -> None:
    _check(
        not (
            isinstance(options, dict)
            and options.get("jq-expr") is not None
            and options.get("jsonnet-expr") is not None
        ),
        f"step '{step}' {fn}: jq-expr and jsonnet-expr are mutually exclusive",
    )
    if fn == "rename":
        _check(isinstance(options, dict), f"step '{step}' rename options must be a mapping")
        extra = set(options) - {"replace", "append", "prepend"}
        _check(not extra, f"step '{step}' rename has unknown options {sorted(extra)}")
        _check(
            ("replace" in options) != ("append" in options or "prepend" in options),
            f"step '{step}' rename needs either replace or append/prepend",
        )
        try:
            validate_rename(
                options.get("replace"), options.get("prepend"), options.get("append")
            )
        except ValueError as err:
            raise TemplateError(f"step '{step}': {err}") from err
    elif fn == "deduplicate":
        if options is not None:
            _check(isinstance(options, dict), f"step '{step}' deduplicate options must be a mapping")
            extra = set(options) - {"consider-name", "consider-data", "consider-trace"}
            _check(not extra, f"step '{step}' deduplicate has unknown options {sorted(extra)}")
            for k, v in options.items():
                _check(isinstance(v, bool), f"step '{step}' deduplicate.{k} must be boolean")
    elif fn == "keep":
        if isinstance(options, int):
            _check(options >= 0, f"step '{step}' keep count must be >= 0")
        elif isinstance(options, dict):
            _check(
                set(options) in ({"first"}, {"last"}),
                f"step '{step}' keep needs exactly one of first/last",
            )
            v = next(iter(options.values()))
            _check(isinstance(v, int) and v >= 0, f"step '{step}' keep count must be >= 0")
        else:
            raise TemplateError(f"step '{step}' keep options must be an int or {{first|last: N}}")
    elif fn == "keep-when":
        _check(isinstance(options, dict), f"step '{step}' keep-when requires a JSON schema object")
        try:
            import jsonschema

            jsonschema.Draft7Validator.check_schema(options)
        except Exception as err:  # noqa: BLE001 — schema-of-schema failure
            raise TemplateError(f"step '{step}' keep-when schema is invalid: {err}") from err
    elif fn == "send-file":
        path = options.get("path") if isinstance(options, dict) else options
        _check(isinstance(path, str) and len(path) > 0, f"step '{step}' send-file needs a path")
    elif fn == "send-receive-jq":
        expr = options.get("jq-expr") if isinstance(options, dict) else options
        _check(isinstance(expr, str) and len(expr) > 0, f"step '{step}' send-receive-jq needs a jq-expr")
    elif fn == "send-receive-jsonnet":
        expr = options.get("jsonnet-expr") if isinstance(options, dict) else options
        _check(
            isinstance(expr, str) and len(expr) > 0,
            f"step '{step}' send-receive-jsonnet needs a jsonnet-expr",
        )
    elif fn in ("send-http", "send-receive-http"):
        target = options.get("target") if isinstance(options, dict) else options
        _check(isinstance(target, str) and len(target) > 0, f"step '{step}' {fn} needs a target")
    # send-stdout / send-amqp / send-mqtt / send-redis / expose-http:
    # options checked by their executors (broker-specific).


def _coerce_window(step: str, window: Any) -> tuple[int, float, Optional[str]]:
    if window is None:
        return 1, -1.0, None  # defaults, src/api.ts:345
    _check(isinstance(window, dict), f"step '{step}' window must be a mapping")
    # ENGINE EXTENSION: optional `key` partitions the window buffers —
    # "name" buffers per event name, "data.<path>" per a payload field.
    # The reference keeps ONE buffer per step (src/step.ts:70-151);
    # plain {events, seconds} stays exact parity, `key` is the scale
    # twin (per-key state parallelizes across executors).
    _check(
        set(window) - {"key"} == {"events", "seconds"},
        f"step '{step}' window needs exactly events and seconds (+ optional key)",
    )
    key = window.get("key")
    if key is not None:
        _check(
            isinstance(key, str)
            and (key == "name" or key.startswith("data.")),
            f"step '{step}' window.key must be 'name' or 'data.<path>'",
        )
    events, seconds = window["events"], window["seconds"]
    if isinstance(events, str):
        _check(events.isdigit() and int(events) > 0, f"step '{step}' window.events must be a positive integer")
        events = int(events)
    _check(isinstance(events, int) and events >= 1, f"step '{step}' window.events must be >= 1")
    if isinstance(seconds, str):
        try:
            seconds = float(seconds)
        except ValueError as err:
            raise TemplateError(f"step '{step}' window.seconds must be a number") from err
    _check(
        isinstance(seconds, (int, float)) and float(seconds) > 0,
        f"step '{step}' has an invalid value for window.seconds (must be > 0)",
    )
    return int(events), float(seconds), key


def _validate_dag(steps: list[StepDef]) -> None:
    # src/pipeline.ts:55-99
    _check(
        all(s.name != INPUT_ALIAS for s in steps),
        f"at least one pipeline step is using the reserved name '{INPUT_ALIAS}'",
    )
    names = [s.name for s in steps]
    _check(len(set(names)) == len(names), "the pipeline step names are not unique")
    step_map = {s.name: s.after for s in steps}
    step_map[INPUT_ALIAS] = []
    for s in steps:
        for dep in s.after:
            _check(
                dep in step_map,
                f"the pipeline step '{s.name}' has a dangling dependency reference '{dep}'",
            )
    checked: set[str] = set()

    def visit(name: str, tail: list[str]) -> None:
        if name in checked:
            return
        if name in tail:
            raise TemplateError(
                "the pipeline steps form a dependency cycle: "
                + " --> ".join(tail) + f" --> {name}"
            )
        for dep in step_map.get(name, []):
            visit(dep, tail + [name])
        checked.add(name)

    for name in names:
        visit(name, [])


def make_pipeline_template(raw: Any) -> PipelineTemplate:
    _check(isinstance(raw, dict), "pipeline template must be a mapping")
    _check(isinstance(raw.get("name"), str) and raw["name"], "pipeline needs a non-empty name")
    _check(isinstance(raw.get("input"), dict) and len(raw["input"]) == 1, "pipeline needs exactly one input form")
    unknown = set(raw) - {"name", "input", "steps", "jq-prelude", "jsonnet-prelude"}
    _check(not unknown, f"unknown pipeline keys: {sorted(unknown)}")

    (input_form, input_options), = raw["input"].items()
    _check(input_form in INPUT_FORMS, f"unknown input form '{input_form}'")

    steps: list[StepDef] = []
    for name, definition in (raw.get("steps") or {}).items():
        _check(isinstance(definition, dict), f"step '{name}' must be a mapping")
        unknown = set(definition) - {"after", "match/drop", "match/pass", "window", "flatmap", "reduce"}
        _check(not unknown, f"step '{name}' has unknown keys {sorted(unknown)}")
        _check(
            not ("match/drop" in definition and "match/pass" in definition),
            f"step '{name}' can't use both match/drop and match/pass",
        )
        _check(
            not ("flatmap" in definition and "reduce" in definition),
            f"step '{name}' can't use both flatmap and reduce",
        )
        _check(
            "flatmap" in definition or "reduce" in definition,
            f"step '{name}' must use one of flatmap or reduce",
        )
        pattern = definition.get("match/drop", definition.get("match/pass"))
        if pattern is not None:
            mode = "drop" if "match/drop" in definition else "pass"
            _check(
                is_valid_pattern(pattern),
                f"step '{name}' has an invalid pattern under match/{mode}",
            )
        else:
            mode = "drop"
        events, seconds, window_key = _coerce_window(name, definition.get("window"))
        function_mode = "flatmap" if "flatmap" in definition else "reduce"
        fn_template = definition[function_mode]
        _check(
            isinstance(fn_template, dict) and len(fn_template) == 1,
            f"step '{name}' {function_mode} must contain exactly one step function",
        )
        (fn_name, fn_options), = fn_template.items()
        _check(fn_name in STEP_FUNCTIONS, f"step '{name}' uses unknown step function '{fn_name}'")
        _validate_step_function(name, fn_name, fn_options)
        steps.append(
            StepDef(
                name=name,
                after=list(definition.get("after") or [INPUT_ALIAS]),
                pattern=pattern,
                pattern_mode=mode,
                window_events=events,
                window_seconds=seconds,
                window_key=window_key,
                function_mode=function_mode,
                function_name=fn_name,
                function_options=fn_options,
            )
        )
    _validate_dag(steps)
    return PipelineTemplate(
        name=raw["name"],
        input_form=input_form,
        input_options=input_options,
        steps=steps,
        jq_prelude=raw.get("jq-prelude"),
        jsonnet_prelude=raw.get("jsonnet-prelude"),
        raw=raw,
    )


def from_yaml(text: str, env: Optional[dict[str, str]] = None, substitute: bool = False) -> PipelineTemplate:
    doc = yaml.safe_load(text)
    if substitute or env is not None:
        doc = envsubst(doc, env)
    return make_pipeline_template(doc)
