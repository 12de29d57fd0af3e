"""Schema compiler + DataFrame validation engine.

Mirrors the reference lifecycle (schema_builder.py:90-411): eager one-time
compile at ``Schema.__init__``, then ``validate(df)`` evaluates EVERY field
check in a single ``select`` (one scan, zero shuffles) and returns:

- ``annotated``   original columns + transformed outputs + ``errors`` array
- ``valid``       rows with no violations, with coerced/defaulted outputs
                  (the reference *returns* the transformed document,
                  schema_builder.py:202-210)
- ``violations``  one row per Invalid: MultipleInvalid exploded
                  (error.py:60-87)
- ``report(...)`` per-partition pass/fail aggregate (north-star artifact)

Scale notes (10^12-row design):
- Row-level validation is embarrassingly parallel: the plan is a single
  Project inside WholeStageCodegen; Catalyst prunes unreferenced columns so
  e.g. the audio ``bytes`` column is never read unless a check uses it.
- ``valid`` / ``violations`` / ``report`` share one cached scan only if the
  caller persists; by default each is an independent lazily-planned
  DataFrame so the optimizer sees the narrowest column set per output.
"""

from __future__ import annotations

import enum as _enum
import itertools
import typing

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import dsl
from .dsl import (
    ALLOW_EXTRA,
    PREVENT_EXTRA,
    REMOVE_EXTRA,
    UNDEFINED,
    Exclusive,
    Inclusive,
    Marker,
    Optional,
    Remove,
    Required,
    RowCheck,
    UnsupportedSchema,
    compile_validator,
)
from .errors import humanize as _humanize
from .errors import py_repr_col, render_violation

_ERR_T = "struct<message:string,error_type:string>"


class _Field:
    __slots__ = (
        "name", "path", "required", "default", "marker_msg",
        "validator", "remove", "group_ex", "group_in",
    )

    def __init__(self, name, path, required, default, marker_msg, validator,
                 remove=False, group_ex=None, group_in=None):
        self.name = name
        self.path = path
        self.required = required
        self.default = default
        self.marker_msg = marker_msg
        self.validator = validator
        self.remove = remove
        self.group_ex = group_ex
        self.group_in = group_in


class ValidationResult:
    """Outputs of ``Schema.validate``."""

    def __init__(self, annotated: DataFrame, id_cols: list[str],
                 out_names: list[str], valid_df: DataFrame | None = None):
        self.annotated = annotated
        self._id_cols = id_cols
        self._out_names = out_names
        self._valid_df = valid_df

    @property
    def valid(self) -> DataFrame:
        """Rows with zero violations, transformed (coerced/defaulted).

        Built from the raw per-check fail conditions, NOT
        ``filter(size(__errors) == 0)``: a filter on the assembled errors
        array gets predicate-pushed below the projection and re-inlines
        every check expression 3-4x inside a non-codegen Filter (the
        array_sort/array_compact lambdas block whole-stage codegen).
        Filtering on the plain boolean conjunction keeps the predicate
        inside codegen and evaluates each check exactly once."""
        if self._valid_df is not None:
            return self._valid_df
        return (
            self.annotated.filter(F.size("__errors") == 0)
            .select(*self._out_names)
        )

    @property
    def invalid(self) -> DataFrame:
        return self.annotated.filter(F.size("__errors") > 0).drop("__errors")

    @property
    def violations(self) -> DataFrame:
        """One row per Invalid; deterministic order via array_sort.

        Columns: id cols + (path, message, error_type, offending, rendered).
        """
        # no filter(size > 0): explode already emits zero rows for empty
        # arrays, and a size() filter would be predicate-pushed below the
        # projection, re-evaluating every check expression several times
        # in an interpreted (non-codegen) Filter node
        err = F.explode("__errors").alias("e")
        df = (
            self.annotated
            .select(*self._id_cols, err)
            .select(
                *self._id_cols,
                F.col("e.path").alias("path"),
                F.col("e.message").alias("message"),
                F.col("e.error_type").alias("error_type"),
                F.col("e.offending").alias("offending"),
                F.col("e.ctx").alias("ctx"),
            )
        )
        # rendered = Invalid.__str__ (error.py:49-54): the ' for <ctx>'
        # context comes from the mapping compile, not the class name
        rendered = render_violation(
            F.col("path"), F.col("message"), F.col("ctx")
        )
        # humanized references the PROJECTED rendered column, not the
        # expression: re-passing the expression would inline the whole
        # path-repr concat a second time per violation row (CollapseProject
        # keeps a multiply-referenced non-cheap alias un-inlined)
        return (
            df.withColumn("rendered", rendered)
            .withColumn(
                "humanized",
                _humanize(F.col("rendered"), F.col("offending")),
            )
        )

    def report(self, partition_cols: typing.Sequence[str] = ()) -> DataFrame:
        """Per-partition pass/fail rows (north rule). Keyed by
        ``spark_partition_id()`` plus optional data partition columns.
        Partial aggregation (map-side combine) makes this one narrow
        shuffle regardless of table size."""
        keys = [F.spark_partition_id().alias("partition_id")] + [
            F.col(c) for c in partition_cols
        ]
        ok = (F.size("__errors") == 0).cast("long")
        return self.annotated.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(ok).alias("passed"),
            F.sum(1 - ok).alias("failed"),
            F.sum(F.size("__errors")).alias("violation_count"),
        )


_VIOL_ARR_T = (
    "array<struct<path:array<string>,message:string,"
    "error_type:string,offending:string,ctx:string>>"
)


class _CompiledTable:
    """A table Schema compiled against one input schema: unbound Columns
    only, so one instance serves every DataFrame of that schema in its
    session. ``bind`` splices the caller's extra checks into the errors
    array between ``head`` (field, group-member and complex-required
    entries) and ``tail`` (extra-key entries, then map-entry arrays; a
    root-level Any's one branch array) — the order a fresh compile
    would give them."""

    def __init__(self, stage1, kept, out_names, fail_any, empty, head=(),
                 tail=(), first_incl=None, excl_arr=None):
        self.stage1, self.kept, self.out_names = stage1, kept, out_names
        self.fail_any, self.empty = fail_any, empty
        self.head, self.tail = list(head), list(tail)
        self.first_incl, self.excl_arr = first_incl, excl_arr
        self._plain_errors = None  # the errors array with no extra checks

    def _errors(self, extra: list) -> Column:
        # Lambda-free assembly: array_compact/array_sort compile to
        # higher-order functions whose lambda bodies force the ENTIRE
        # projection out of whole-stage codegen (measured: 3-5s of
        # interpreted per-row lambda eval on a 600k-row validate).
        # concat of conditional singleton arrays stays inside codegen;
        # error order = schema declaration order, which is exactly the
        # reference's accumulation order (schema_builder.py:360-377).
        parts = self.head + extra + self.tail
        errors = F.concat(*parts) if parts else self.empty
        # group-check precedence (schema_builder.py:530-571): any
        # exclusive error preempts everything; else the first inclusive
        # error preempts mapping errors; else fall through
        if self.first_incl is not None:
            errors = F.when(
                self.first_incl.isNotNull(),
                F.array(self.first_incl).cast(_VIOL_ARR_T),
            ).otherwise(errors)
        if self.excl_arr is not None:
            errors = F.when(
                F.size(self.excl_arr) > 0, self.excl_arr
            ).otherwise(errors)
        return errors

    def bind(self, df: DataFrame, id_cols, extra_checks) -> ValidationResult:
        fail_any, extra = self.fail_any, []
        if not extra_checks:
            if self._plain_errors is None:
                self._plain_errors = self._errors([])
            errors = self._plain_errors
        else:
            # multi-column content checks (Arrow-batch validators)
            for chk in extra_checks:
                label, msg_col = chk[0], chk[1]
                etype = chk[2] if len(chk) > 2 else "ValueInvalid"
                en = _violation((label,), msg_col, etype, F.lit("None"),
                                msg_col.isNotNull())
                extra.append(
                    F.when(en.isNotNull(), F.array(en)).otherwise(self.empty)
                )
                fail_any = fail_any | en.isNotNull()
            errors = self._errors(extra)
        staged = df.select(*self.stage1)
        return ValidationResult(
            staged.select(*self.kept, errors.alias("__errors")),
            list(id_cols), list(self.out_names),
            staged.filter(~fail_any).select(*self.kept),
        )


class Schema:
    """Compile a voluptuous-style dict schema against DataFrame columns.

    >>> s = Schema({Required('clip_id'): All(str, Length(min=1)),
    ...             'sr_hz': In([8000, 16000, 44100])})
    >>> res = s.validate(df, id_cols=['clip_id'])

    ``required`` / ``extra`` flags follow schema_builder.py:118-137.
    Keys may be plain strings (policy from ``required`` flag), Required,
    Optional (with default), Exclusive/Inclusive (group checks), Remove.
    Nested dict values validate StructType columns field-by-field with
    reference-style paths. NULL cell == absent key.
    """

    def __init__(self, schema, required: bool = False, extra: int = PREVENT_EXTRA):
        self.schema = schema
        self.required = required
        self.extra = extra
        self._compiled_cache: dict = {}
        self._value_only = False
        if isinstance(schema, dict):
            return
        if (
            isinstance(schema, dsl.Any)
            and not isinstance(schema, dsl.Maybe)
            and schema.validators
            and all(isinstance(b, dict) for b in schema.validators)
        ):
            # root-level Any over mapping branches: the whole row must
            # match >=1 branch (reference Schema(Any({...}, {...},
            # required=True)), tests.py:1607-1622)
            return
        # non-dict root (Schema(int), Schema([str]), Schema(All(...))):
        # the reference compiles these uniformly (schema_builder.py:212-
        # 234); here they serve the single-document call path only —
        # table validation needs a dict of column -> validator
        self._value_only = True

    # -- equality / rendering (schema_builder.py:183-200): two Schemas
    # compare by schema value (dict order irrelevant), never equal to a
    # plain string/dict (tests.py:493-552)
    def __eq__(self, other):
        if not isinstance(other, Schema):
            return False
        return other.schema == self.schema

    def __ne__(self, other):
        return not (self == other)

    __hash__ = object.__hash__

    def __str__(self):
        return str(self.schema)

    def __repr__(self):
        extra_name = {PREVENT_EXTRA: "PREVENT_EXTRA",
                      ALLOW_EXTRA: "ALLOW_EXTRA",
                      REMOVE_EXTRA: "REMOVE_EXTRA"}.get(self.extra, "??")
        return "<Schema(%s, extra=%s, required=%s) object at 0x%x>" % (
            self.schema, extra_name, self.required, id(self))

    # -- reference-style single-document call (schema_builder.py:202-210) ---
    def __call__(self, data: dict, spark=None) -> dict:
        """Validate ONE document exactly like the reference:
        ``schema(data)`` returns the transformed document or raises
        ``MultipleInvalid``. A driver-side compatibility shim over the
        DataFrame engine (one-row DataFrame round-trip) so reference
        callers can switch without code changes; for table scale use
        ``validate(df)``."""
        from pyspark.sql import SparkSession

        from .exceptions import raise_if_invalid

        spark = spark or SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError(
                "Schema.__call__ needs an active SparkSession"
            )
        if isinstance(self.schema, type) and self.schema in (
            dict, list, tuple, set, frozenset,
        ):
            from . import exceptions as er

            # bare container-TYPE schema (tests.md:73-99: Schema(dict) /
            # Schema(list) / Schema(tuple)): a driver-side isinstance
            # gate; the data passes through unchanged, so subclasses
            # (custom Dict/List) keep their type
            if isinstance(data, self.schema):
                return data
            raise er.MultipleInvalid([er.TypeInvalid(
                "expected %s" % self.schema.__name__
            )])
        if isinstance(self.schema, (list, tuple)):
            from . import exceptions as er

            # exact container-class gate (schema_builder.py:585-591): a
            # list schema takes lists only, a tuple schema tuples only
            seq_cls = list if isinstance(self.schema, list) else tuple
            if not isinstance(data, seq_cls):
                raise er.MultipleInvalid([er.SequenceTypeInvalid(
                    "expected a %s" % seq_cls.__name__
                )])
            if len(self.schema) == 0:
                # empty alternatives reject every element; the reference
                # passes the remaining VALUE as the error path
                # (tests.py test_schema_empty_list: 'not a valid value
                # @ data[123]')
                if len(data):
                    raise er.MultipleInvalid([er.ValueInvalid(
                        "not a valid value", path=list(data)
                    )])
                return seq_cls()
        if (isinstance(data, (list, tuple, set, frozenset))
                and _is_mixed_seq(data)):
            # MIXED-type root sequence ([1, 'a'], differing struct
            # shapes): no ArrayType can carry it — validate element-wise
            # driver-side with the reference's exact sequence semantics
            # (each element rides the column engine individually)
            from . import exceptions as er

            nv = _mixed_seq_verdict(
                self.schema, data, required=self.required, extra=self.extra)
            if nv is not None:
                kind, payload = nv
                if kind == "accept":
                    return payload
                raise er.MultipleInvalid(payload)
        if not isinstance(data, dict):
            # dict documents are checked AFTER the driver-resolution walk
            # (which lifts mixed-type/None values out of the ride)
            _assert_representable(data)
        if isinstance(self.schema, dsl.Object) and not isinstance(data, dict):
            return self._call_object_doc(data, spark)
        if (
            isinstance(self.schema, dsl.Maybe)
            and isinstance(self.schema._inner, dict)
            and isinstance(data, dict)
        ):
            # root-level Maybe({...}) over a dict document (tests.py
            # test_maybe: Maybe = Any(None, {...}) and a non-None dict
            # rides the inner mapping schema; its deeper errors win the
            # deepest-path selection over the None branch)
            return type(self)(
                self.schema._inner, required=self.required,
                extra=self.extra,
            )(data, spark)
        if not isinstance(data, dict):
            return self._call_scalar_doc(data, spark)
        if data and not all(isinstance(k, str) for k in data):
            return self._call_map_doc(data, spark)
        if isinstance(self.schema, dict) and not isinstance(
            self.schema, dsl.Object
        ) and data and _key_transform_applies(self.schema, data):
            # a transforming wildcard KEY renames entries (Coerce(int)
            # key turns '10' into 10, reference schema_builder.py
            # :483-488): the output key changes TYPE, which no static
            # struct/map column can carry — validate driver-side, where
            # _driver_match_key computes the renamed key exactly
            return self._driver_validate_mapping(data, spark)
        if isinstance(self.schema, dict) and not isinstance(
            self.schema, dsl.Object
        ) and any(
            isinstance(sk, dsl.Marker)
            and getattr(sk, "default", dsl.UNDEFINED) is not dsl.UNDEFINED
            and isinstance(sk.schema, (bool, int, float, bytes, tuple))
            and sk.schema not in data
            for sk in self.schema
        ):
            # a DEFAULT on a non-str literal key (Optional(1, default=...))
            # cannot inject into a str-keyed struct — validate driver-side
            # (reference default injection, schema_builder.py:299-307)
            return self._driver_validate_mapping(data, spark)
        if not isinstance(self.schema, dict) and isinstance(
            self.schema, (Schema, dsl.Msg, dsl.All, dsl.Equal, dsl.Literal)
        ):
            # root NON-mapping schema over a dict document (reference
            # _compile_scalar path: Equal/Literal deep-compare dicts,
            # Msg/All/Schema re-enter the compiler) — the dict flow below
            # assumes a mapping schema, so route driver-side
            return self._call_validator_dict_doc(data, spark)
        gated = _reinstate_set_gates(self.schema, data)
        if gated is not None:
            return Schema(gated, required=self.required, extra=self.extra)(
                data, spark
            )
        # Object schemas as dict VALUES over Python instances (tests.md:
        # 248-251, {'meta': Object({...})} on {'meta': Structure(...)}):
        # substitute the instance's attribute dict for the ride, rebuild
        # the instance type on the way out (type(data)(**out), reference
        # _compile_object schema_builder.py:439)
        obj_originals: dict = {}
        if isinstance(self.schema, dict):
            from . import exceptions as er

            for k, v in self.schema.items():
                name = _key_name(k)
                if not (isinstance(v, dsl.Object) and isinstance(name, str)):
                    continue
                dv = data.get(name)
                if dv is None or isinstance(dv, dict):
                    continue
                if (v.cls is not dsl.UNDEFINED
                        and not isinstance(dv, v.cls)):
                    raise er.MultipleInvalid([er.ObjectInvalid(
                        "expected a {0!r}".format(v.cls), path=[name]
                    )])
                obj_originals[name] = dv
            if obj_originals:
                data = dict(data)
                for name, o in obj_originals.items():
                    data[name] = {
                        k2: v2 for k2, v2 in _iterate_object_attrs(o)
                        if v2 is not None
                    }
        driver_res = ()
        doc_order = {k: i for i, k in enumerate(data)}
        if isinstance(self.schema, dict) and not isinstance(
                self.schema, dsl.Object):
            data, driver_res = _resolve_driver_values(
                self.schema, data, self.extra, self.schema,
                required=self.required,
            )
        _assert_representable(data)
        stype = self._infer_doc_type(data)
        df = spark.createDataFrame([_to_row_value(data, stype)], stype)
        res = self.validate(df, id_cols=[])
        if driver_res:
            _merge_driver_resolutions(res, driver_res, doc_order)
            # the merge is the pass/fail authority here: ride errors at
            # resolved paths are placeholder artifacts, so the row may be
            # flagged failed (and absent from .valid) while the document
            # is valid — read the transformed outputs off .annotated
            rows = res.annotated.select(*res._out_names).collect()
        else:
            raise_if_invalid(res)
            rows = res.valid.collect()
        out = rows[0].asDict(recursive=True)
        if isinstance(self.schema, dict):
            _strip_removed(out, self.schema)
        for p, kind, payload in driver_res:
            if kind == "accept":
                _set_nested(out, p, payload)
            elif kind == "drop":
                cur = out
                for comp in p[:-1]:
                    cur = cur.get(comp) if isinstance(cur, dict) else None
                    if cur is None:
                        break
                if isinstance(cur, dict):
                    cur.pop(p[-1], None)
        for name, o in obj_originals.items():
            try:
                out[name] = type(o)(**out[name])
            except TypeError:
                out[name] = o
        return out

    def _call_validator_dict_doc(self, data: dict, spark):
        """Root NON-mapping schema over a dict document (reference
        ``_compile_scalar``, schema_builder.py:770-818: ``Equal`` /
        ``Literal`` deep-compare dicts; ``Msg``/``All``/``Schema`` re-enter
        the compiler with the document). Driver-side — the dict engine
        flow assumes a mapping schema."""
        from . import exceptions as er

        node = self.schema
        if isinstance(node, Schema):
            return type(self)(
                node.schema, required=node.required, extra=node.extra
            )(data, spark)
        if isinstance(node, dsl.Msg):
            try:
                return type(self)(
                    node.schema, required=self.required, extra=self.extra
                )(data, spark)
            except er.MultipleInvalid as e:
                if len(e.errors[0].path) > 1:  # depth rule
                    raise
                cls = node.cls
                if isinstance(cls, str):
                    cls = er._BY_NAME.get(cls, er.Invalid)
                raise er.MultipleInvalid(
                    [(cls or er.Invalid)(node.msg)]) from None
        if isinstance(node, dsl.All):
            v = data
            for sub in node.validators:
                try:
                    v = type(self)(
                        sub, required=self.required, extra=self.extra
                    )(v, spark)
                except er.MultipleInvalid:
                    if node.msg:
                        raise er.MultipleInvalid(
                            [er.AllInvalid(node.msg)]) from None
                    raise
            return v
        if isinstance(node, dsl.Equal):
            if data != node.target:
                raise er.MultipleInvalid([er.Invalid(
                    node.msg or "Values are not equal: value:%s != target:%s"
                    % (data, node.target))])
            return data
        if isinstance(node, dsl.Literal):
            if node.lit != data:
                raise er.MultipleInvalid([er.LiteralInvalid(
                    "%s not match for %s" % (data, node.lit))])
            return node.lit
        raise UnsupportedSchema(  # pragma: no cover - caller filters kinds
            "schema %r over a dict document is not supported in "
            "single-document mode" % (node,))

    def _call_scalar_doc(self, data, spark):
        """Top-level NON-dict document (``Schema(int)(5)`` -> ``5``,
        ``Schema([str])(['a'])`` — reference schema_builder.py:202-205
        dispatches uniformly): ride the value through a one-key carrier
        row and strip the carrier from error paths so ``str(exc)`` renders
        path-less exactly like the reference's root-value errors.

        Engine-wide divergence note applies: a None value is an absent
        key in column land, so ``Schema(int)(None)`` reports 'required
        key not provided' rather than the reference's 'expected int'."""
        from . import exceptions as er

        if isinstance(self.schema, dict):
            raise er.MultipleInvalid(
                [er.DictInvalid("expected a dictionary")]
            )
        if data is None and _accepts_none(self.schema):
            # root-level None against a None-admitting schema
            # (Maybe(int)(None) -> None, validators.py:622-635) — short-
            # circuit driver-side: a NULL carrier cell would read as an
            # absent key
            return None
        if data is None and isinstance(self.schema, dsl.DefaultTo):
            # DefaultTo(42)(None) -> 42; callable defaults are factories
            # (util.py:65-86, DefaultTo(list) -> [])
            d = self.schema.default_value
            return d() if callable(d) else d
        if data is None and isinstance(self.schema, dsl.SetTo):
            v = self.schema.value
            return v() if callable(v) else v
        if (
            isinstance(self.schema, dsl.Coerce)
            and isinstance(self.schema.type, type)
            and issubclass(self.schema.type, _enum.Enum)
        ):
            # root Coerce(Enum) yields the Enum MEMBER exactly like the
            # reference (validators.py:151-157: self.type(v)); a Row cell
            # cannot hold members, so table mode keeps the raw value
            # (documented in dsl.Coerce) — single-document mode is exact
            try:
                return self.schema.type(data)
            except (ValueError, KeyError, TypeError):
                msg = self.schema.msg
                if not msg:
                    name = self.schema.type.__name__
                    values = [e.value for e in self.schema.type]
                    msg = ("expected %s or one of " % name
                           + str(values)[1:-1])
                raise er.MultipleInvalid(
                    [er.CoerceInvalid(msg)]) from None
        if data is None:
            # EXPLICIT root None: reference validator(None) semantics
            # (dsl.none_verdict); unknown verdicts fall through to the
            # documented NULL-is-absent carrier behavior
            nv = dsl.none_verdict(self.schema, self_schema=self.schema)
            if nv is not None:
                kind, payload = nv
                if kind == "accept":
                    return payload
                raise er.MultipleInvalid(payload)
        if (
            callable(self.schema)
            and not isinstance(self.schema, (type, dsl.Validator))
            and not isinstance(self.schema, (dict, list, tuple, set,
                                             frozenset))
        ):
            # bare Python callable at the ROOT runs driver-side exactly
            # like the reference (_compile_scalar, schema_builder.py:
            # 800-811: ValueError trapped, Invalid re-raised) — it may
            # return a value of a DIFFERENT type (README.md Date example
            # returns datetime), which a typed carrier column cannot
            try:
                return self.schema(data)
            except er.Invalid as e:
                raise er.MultipleInvalid([e]) from None
            except ValueError:
                raise er.MultipleInvalid(
                    [er.ValueInvalid("not a valid value")]
                ) from None
        if isinstance(self.schema, type) and not isinstance(
            data,
            (bool, int, float, str, bytes, list, tuple, set,
             frozenset, dict),
        ):
            # arbitrary Python object (or root None) against a type
            # schema (tests.py test_class: Schema(C1)(C1()) passes,
            # Schema(C1)(None) -> 'expected C1'): not representable as a
            # typed cell — the isinstance gate runs driver-side
            if isinstance(data, self.schema):
                return data
            raise er.MultipleInvalid([er.TypeInvalid(
                "expected %s" % self.schema.__name__
            )])
        carrier = Schema({dsl.Required("__v__"): self.schema})
        try:
            res = carrier({"__v__": data}, spark)["__v__"]
            if isinstance(self.schema, dsl.Set) and isinstance(res, list):
                # a real Python set comes back from the single-document
                # path (util.py:124-129); unhashable elements raise the
                # reference's TypeInvalid
                try:
                    return set(res)
                except TypeError as te:
                    raise er.MultipleInvalid([er.TypeInvalid(
                        self.schema.msg
                        or "cannot be presented as set: {0}".format(te)
                    )]) from None
            if isinstance(res, list) and isinstance(
                data, (tuple, set, frozenset)
            ):
                # container-type preservation (type(data)(out),
                # schema_builder.py:628-631); namedtuples rebuild
                # positionally
                if hasattr(data, "_fields"):
                    return type(data)(*res)
                return type(data)(res)
            return res
        except er.MultipleInvalid as e:
            for sub in e.errors:
                if sub.path and sub.path[0] == "__v__":
                    sub._path = sub.path[1:]
                    # the root value's own gate error carried the dict
                    # compiler's 'dictionary value' ctx; a real root
                    # scalar error renders bare (validators raise with
                    # no ctx at the top level)
                    if not sub._path and sub.error_type == "dictionary value":
                        sub.error_type = None
                elif not sub.path and sub.error_type == "dictionary value":
                    # drop-path validators (SomeOf) emit with an empty
                    # path already; strip the carrier ctx the same way
                    sub.error_type = None
                if isinstance(sub.msg, str) and "__v__" in sub.msg:
                    # validators that EMBED rendered sub-paths in their
                    # message (SomeOf, validators.py:1255-1257) rendered
                    # the carrier key; a root value renders path-less
                    sub.args = (
                        sub.msg.replace(" @ data['__v__']", ""),
                    ) + sub.args[1:]
                    sub._error_message = sub._error_message.replace(
                        " @ data['__v__']", ""
                    )
            raise er.MultipleInvalid(e.errors) from None

    def _call_map_doc(self, data: dict, spark) -> dict:
        """Documents with non-string keys (reference tests.py:1111-1129,
        ``Schema({Number(): Number()})`` interpolation pairs): a struct
        row cannot carry them, so the doc rides ONE MapType column
        through the dynamic-key mapping compiler and is unwrapped after.
        Entry order survives the round trip (Spark's ArrayBasedMapData
        keeps construction order), matching the reference's
        order-preservation guarantee."""
        from pyspark.sql import functions as F

        key_kinds = {bool if isinstance(k, bool) else type(k)
                     for k in data}
        scalar_keys = all(
            isinstance(k, (str, bytes, bool, int, float)) for k in data
        )
        if isinstance(self.schema, dict) and not isinstance(
            self.schema, dsl.Object
        ) and (
            len(key_kinds) > 1 or not scalar_keys
            or _is_mixed_seq(list(data.values()))
            or any(isinstance(v, dict) for v in data.values())
        ):
            # no MapType ride can carry this document faithfully
            # (mixed/non-scalar key types, mixed value types, or NESTED
            # dict values — per-entry mapping validation inside
            # transform_values is not expressible) — validate
            # driver-side with each key/value riding the column engine
            # individually
            return self._driver_validate_mapping(data, spark)
        _assert_representable(data)
        kt = _infer_spark_type(next(iter(data)))
        vt = _infer_spark_type(next(iter(data.values())))
        stype = T.StructType(
            [T.StructField("__doc__", T.MapType(kt, vt), True)]
        )
        df = spark.createDataFrame([(dict(data),)], stype)
        res = Schema(
            {"__doc__": self.schema}, required=self.required,
            extra=self.extra,
        ).validate(df, id_cols=[])
        # strip the carrier column from error paths, and restore numeric
        # key components to their Python type so str(exc) renders
        # data[5.0], not data['5.0']
        rows = res.violations.withColumn(
            "path", F.slice(F.col("path"), 2, 1_000_000)
        ).limit(1000).collect()
        if rows:
            from . import exceptions as er

            errs = [er.invalid_from_row(r) for r in rows]
            if isinstance(kt, (T.DoubleType, T.FloatType)):
                for e in errs:
                    e._path = [
                        float(p) if isinstance(p, str)
                        and p.replace('.', '', 1).lstrip('-').isdigit()
                        else p
                        for p in e._path
                    ]
            raise er.MultipleInvalid(errs)
        row = res.valid.collect()[0]
        out = dict(row["__doc__"] or {})
        if set(out) == set(data):
            # Spark's map collect does not guarantee entry order; when
            # keys were not transformed, restore the input order (the
            # reference preserves OrderedDict order, tests.py:1128-1129)
            out = {k: out[k] for k in data}
        # container-type preservation (type(out)() at schema_builder.py
        # :295): an OrderedDict document comes back as an OrderedDict
        if type(data) is not dict:
            out = type(data)(out)
        return out

    def _call_object_doc(self, data, spark):
        """``Object`` schema over an arbitrary Python instance
        (schema_builder.py:413-441): optional ``cls`` isinstance gate,
        then the instance's non-None attributes validate like a dict
        (None attributes are FILTERED by the reference — the same
        None-is-absent rule this engine uses everywhere). Rides the
        engine's Object-over-struct path via a one-key carrier so errors
        carry the reference's 'object value' ctx. Returns
        ``type(data)(**out)`` like the reference."""
        from . import exceptions as er

        obj = self.schema
        if obj.cls is not dsl.UNDEFINED and not isinstance(data, obj.cls):
            raise er.MultipleInvalid([er.ObjectInvalid(
                "expected a {0!r}".format(obj.cls)
            )])
        attrs = {
            k: v for k, v in _iterate_object_attrs(data) if v is not None
        }
        # pad literal schema keys so missing attributes surface as
        # required-key errors instead of an untyped empty struct
        doc = {}
        for k in obj:
            name = _key_name(k)
            if isinstance(name, str):
                doc[name] = None
        doc.update(attrs)
        carrier = Schema(
            {dsl.Required("__o__"): obj},
            required=self.required, extra=self.extra,
        )
        try:
            out = carrier({"__o__": doc}, spark)["__o__"]
        except er.MultipleInvalid as e:
            for sub in e.errors:
                if sub.path and sub.path[0] == "__o__":
                    sub._path = sub.path[1:]
            raise er.MultipleInvalid(e.errors) from None
        try:
            return type(data)(**out)
        except TypeError:
            return data

    def _infer_doc_type(self, data: dict) -> T.StructType:
        hints = {}
        branches = (
            self.schema.validators
            if isinstance(self.schema, dsl.Any) else (self.schema,)
        )
        for branch in branches:
            for key, val in branch.items():
                name = _key_name(key)
                if isinstance(name, str):
                    hints.setdefault(name, val)
        fields = [
            T.StructField(k, _infer_spark_type(v, hints.get(k)), True)
            for k, v in data.items()
        ]
        return T.StructType(fields)

    # -- compile-time DSL merge (schema_builder.py:705-767) -----------------
    def extend(self, schema: dict, required=None, extra=None) -> "Schema":
        assert isinstance(schema, dict)
        result = self.schema.copy()
        key_names = {str(_key_name(k)): k for k in result}
        for k, v in schema.items():
            name = str(_key_name(k))
            if name in key_names:
                old_key = key_names[name]
                old_v = result[old_key]
                if isinstance(old_v, dict) and isinstance(v, dict):
                    # recursive merge (schema_builder.py:749-752)
                    merged = Schema(old_v).extend(v).schema
                    del result[old_key]
                    result[k] = merged
                    continue
                del result[old_key]
            result[k] = v
        # instantiate via type(self) so Schema subclasses extend to the
        # subclass (schema_builder.py:762-767, tests.py
        # test_schema_extend_handles_schema_subclass)
        return type(self)(
            result,
            self.required if required is None else required,
            self.extra if extra is None else extra,
        )

    @classmethod
    def infer(cls, data, **kwargs) -> "Schema":
        """Derive a type schema from concrete data (Schema.infer,
        schema_builder.py:141-181, infers types not values). Accepts the
        reference's plain-dict form (recursive: nested dicts stay dicts,
        lists become element-type alternatives) or, as a Spark-side
        extension, a DataFrame (column dtypes map to Python types)."""
        def value_to_schema_type(value):
            if isinstance(value, dict):
                if len(value) == 0:
                    return dict
                return {k: value_to_schema_type(v)
                        for k, v in value.items()}
            if isinstance(value, list):
                if len(value) == 0:
                    return list
                return [value_to_schema_type(v) for v in value]
            return type(value)

        # keys stay PLAIN (presence follows the required= kwarg);
        # tests.py:1150-1160 compares equal to Required keys only
        # because Marker equality unwraps (tests.py:1183-1199 relies
        # on required=False accepting subsets)
        if isinstance(data, (dict, list)) or not hasattr(data, "schema"):
            # plain documents including scalars (Schema.infer('foo') ==
            # Schema(str), tests.py test_schema_infer_scalar)
            return cls(value_to_schema_type(data), **kwargs)
        rev = {
            T.StringType: str, T.BooleanType: bool, T.BinaryType: bytes,
            T.LongType: int, T.IntegerType: int, T.ShortType: int,
            T.ByteType: int, T.DoubleType: float, T.FloatType: float,
        }
        out = {}
        for f in data.schema.fields:
            py = rev.get(type(f.dataType))
            out[Required(f.name)] = py if py else dsl.Validator()
        return cls(out, **kwargs)

    # -- bind + validate -----------------------------------------------------
    @classmethod
    def _key_eval(cls, key_schema, name):
        """Evaluate a wildcard key schema against a COLUMN NAME. At the
        table level the data keys are the (static, always-str) column
        names, so the reference's dynamic-key matching
        (schema_builder.py:337-346) resolves entirely at compile time,
        driver-side — zero runtime cost. Returns ``("ok", new_name)`` on
        accept (key schemas may transform) or ``("err", (msg, etype))``
        carrying the reference's exact rejection message (the recorded
        key error is surfaced instead of 'extra keys not allowed' under
        PREVENT, schema_builder.py:385-396)."""
        import re as _re2

        from . import exceptions as er

        if key_schema is dsl.Extra or isinstance(key_schema, dsl.Extra):
            return ("ok", name)
        if isinstance(key_schema, type):
            if isinstance(name, key_schema):
                return ("ok", name)
            tn = dsl._PYTYPE_NAME.get(
                key_schema, getattr(key_schema, "__name__", str(key_schema)))
            return ("err", (f"expected {tn}", "TypeInvalid"))
        if isinstance(key_schema, dsl.Match):
            if _re2.match(key_schema.pattern, name) is not None:
                return ("ok", name)
            return ("err", (
                f"does not match regular expression {key_schema.pattern}",
                "MatchInvalid"))
        if isinstance(key_schema, dsl.In):
            if name in key_schema.container:
                return ("ok", name)
            return ("err", (key_schema.msg or
                            "value must be one of %s" % sorted(
                                key_schema.container), "InInvalid"))
        if isinstance(key_schema, dsl.Any):
            first_err = None
            for b in key_schema.validators:
                r = cls._key_eval(b, name)
                if r[0] == "ok":
                    return r
                if first_err is None:
                    first_err = r
            if key_schema.msg:
                return ("err", (key_schema.msg, "AnyInvalid"))
            return first_err or ("err", ("no valid value found", "AnyInvalid"))
        if isinstance(key_schema, dsl.All):
            cur = name
            for stage in key_schema.validators:
                r = cls._key_eval(stage, cur)
                if r[0] == "err":
                    if key_schema.msg:
                        return ("err", (key_schema.msg, "AllInvalid"))
                    return r
                cur = r[1]
            return ("ok", cur)
        if isinstance(key_schema, dsl.Coerce):
            try:
                return ("ok", key_schema.type(name))
            except (ValueError, TypeError):
                tn = dsl._PYTYPE_NAME.get(
                    key_schema.type,
                    getattr(key_schema.type, "__name__", "?"))
                return ("err", (key_schema.msg or f"expected {tn}",
                                "CoerceInvalid"))
        if callable(key_schema) and not isinstance(key_schema, dsl.Validator):
            # callable KEY schema (tests.py:1712-1752): the candidate runs
            # on the static column name at compile time; a raise records
            # the key error and later wildcards may still claim the column
            try:
                return ("ok", key_schema(name))
            except er.Invalid as e:
                return ("err", (e.msg, type(e).__name__))
            except (ValueError, TypeError):
                return ("err", ("not a valid value", "ValueInvalid"))
        if isinstance(key_schema, (str, int, float, bool)):
            if name == key_schema:
                return ("ok", name)
            return ("err", ("not a valid value", "ScalarInvalid"))
        raise UnsupportedSchema(
            f"unsupported wildcard column-key schema: {key_schema!r} "
            "(supported: Extra, Python types, Match, In, Any, All, "
            "Coerce, callables, literals)"
        )

    @staticmethod
    def _value_statically_rejects(val_schema, dtype) -> bool:
        """True only when the VALUE schema provably rejects every cell of
        a column with static type ``dtype`` — used to route Remove
        wildcard candidates: the reference's mapping loop falls through
        to the next candidate when a Remove candidate's value fails
        (schema_builder.py:350-368: ``if is_remove ...: continue``), so
        ``{Remove(str): int, str: str}`` keeps string-valued columns and
        removes int-valued ones (tests.py:197-213). Only decidable
        statically for type schemas and literals; anything per-row keeps
        the first-key-match claim."""
        if dtype is None:
            return False
        if isinstance(val_schema, type):
            return not dsl._pytype_matches(val_schema, dtype)
        if isinstance(val_schema, (str, bool)) or (
                isinstance(val_schema, (int, float))
                and not isinstance(val_schema, bool)):
            return not dsl._pytype_matches(type(val_schema), dtype)
        return False

    def _value_fail_cond(self, v, col, dtype, path) -> Column:
        """Per-row boolean: does ``v`` REJECT the (present) cell? Used by
        the Remove fall-through — the failure routes to the extra policy,
        not to value errors, so only the condition is harvested (the
        violation structs built here are throwaway driver-side Columns)."""
        v = _unwrap_marker(v)
        arrs: list = []
        if isinstance(v, dsl.Msg) and isinstance(v.schema, dict):
            v = v.schema
        v = _maybe_expand(v, dtype, self.extra)
        sub = None
        if isinstance(v, Schema) and isinstance(v.schema, dict):
            # Schema instance as the Remove key's value: fail condition
            # evaluates with the sub-schema's OWN flags
            sub, v = v, v.schema
        if isinstance(v, dict):
            sub = sub or Schema(v, required=self.required, extra=self.extra)
            if isinstance(dtype, T.MapType):
                _, errs, arrs = sub._validate_map(col, dtype, path)
            else:
                _, errs = sub._validate_struct(
                    col, dtype, path, root=self.schema, arrays=arrs
                )
        elif isinstance(v, (list, tuple)) and isinstance(dtype, T.ArrayType):
            _, errs, arrs = self._validate_sequence(v, col, dtype, path)
        elif (
            isinstance(v, (dsl.Any, dsl.All))
            and not isinstance(v, dsl.Maybe)
            and any(
                isinstance(b, (dict, Schema)) or b is dsl.Self
                or b is dsl._SelfSentinel or isinstance(b, dsl._SelfSentinel)
                or (isinstance(v, dsl.Any) and isinstance(b, (list, tuple))
                    and bool(b) and isinstance(dtype, T.ArrayType))
                for b in v.validators
            )
        ):
            # combinator-over-mapping as the Remove key's value
            errs = []
            arrs = [
                self._any_dict_branches(v, col, dtype, path)
                if isinstance(v, dsl.Any)
                else self._all_dict_stages(v, col, dtype, path)
            ]
        else:
            check = compile_validator(v, dtype, path=path)
            errs = [check.err(col)]
            if check.multi is not None:
                arrs = [check.multi(col)]
        cond = F.lit(False)
        for e in errs:
            cond = cond | e.isNotNull()
        for a in arrs:
            cond = cond | F.coalesce(F.size(a) > 0, F.lit(False))
        return cond & col.isNotNull()

    def _bind_fields(self, struct: T.StructType, prefix: tuple[str, ...] = ()):
        fields: list[_Field] = []
        declared: set[str] = set()
        # wildcard keys ({str: v}, {Extra: v}, {Match('^l_'): v}) matched
        # against undeclared column names after the literal-key pass
        wildcards: list[tuple] = []
        # complex required keys (schema_builder.py:311-325):
        # Required(Any('a','b')) = at-least-one-of; candidates are real
        # columns, each validated when present
        complex_req: list[tuple[tuple[str, ...], typing.Optional[str]]] = []
        by_name = {f.name: f.dataType for f in struct.fields}
        for key, val in self.schema.items():
            name = _key_name(key)
            if (
                isinstance(key, Required)
                and isinstance(key.schema, dsl.Any)
                and key.schema.validators
                and all(isinstance(c, (str, int, float, bool))
                        for c in key.schema.validators)
            ):
                # candidates may mix key types (tests.py:2090-2113); only
                # str candidates can exist as DataFrame columns — the
                # others still appear in the group message/path repr
                cands = tuple(key.schema.validators)
                complex_req.append((cands, key.msg))
                for c in cands:
                    if not isinstance(c, str):
                        continue
                    declared.add(c)
                    fields.append(
                        _Field(c, prefix + (c,), False, UNDEFINED, None, val)
                    )
                continue
            if not isinstance(name, str):
                # wildcard column key (type / Extra / Match / In):
                # resolved against the static column names after the
                # literal keys claim theirs (reference candidate priority:
                # values first, wildcards later, Extra last —
                # schema_builder.py:844-861)
                wildcards.append((key, name, val))
                continue
            declared.add(name)
            required = self.required
            default = UNDEFINED
            marker_msg = None
            remove = False
            group_ex = group_in = None
            if isinstance(key, Remove):
                remove = True
                # the required flag never applies to Remove keys
                # (schema_builder.py:246)
                required = False
            if isinstance(key, Required):
                required = True
                default = key.default
                marker_msg = key.msg
            elif isinstance(key, Exclusive):
                required = False
                group_ex = key.group_of_exclusion
                marker_msg = key.msg
            elif isinstance(key, Inclusive):
                required = False
                group_in = key.group_of_inclusion
                default = key.default
                marker_msg = key.msg
            elif isinstance(key, Optional):
                required = False
                default = key.default
                marker_msg = key.msg
            dtype = by_name.get(name)
            fields.append(
                _Field(name, prefix + (name,), required, default, marker_msg,
                       val, remove, group_ex, group_in)
            )
            if dtype is None and required and default is UNDEFINED:
                # statically-missing column: every row fails — keep as a
                # field with no dtype; handled in _field_exprs
                pass
        if wildcards:
            def _prio(kv):
                key = kv[0]
                if key is dsl.Extra or isinstance(key, dsl.Extra):
                    return 5
                if isinstance(key, Remove):
                    return 1
                if isinstance(key, Marker):
                    return 2
                if isinstance(key, type):
                    return 4
                return 3

            wildcards.sort(key=_prio)
            from . import exceptions as er

            matched_wild_ids: set[int] = set()
            for cname in struct.fieldNames():
                if cname in declared:
                    continue
                key_err = None
                for key, kschema, val in wildcards:
                    res = self._key_eval(kschema, cname)
                    if res[0] == "err":
                        # record the FIRST key error (reference keeps the
                        # deepest-path error, first on ties —
                        # schema_builder.py:341-346) and let later
                        # wildcards still claim the column; under PREVENT
                        # it is surfaced instead of 'extra keys not
                        # allowed' (schema_builder.py:392-396)
                        if key_err is None:
                            key_err = res[1]
                        continue
                    if isinstance(key, Remove) and \
                            self._value_statically_rejects(
                                val, by_name.get(cname)):
                        # Remove candidate whose VALUE schema statically
                        # rejects the column: the reference falls through
                        # silently (schema_builder.py:350-368)
                        continue
                    declared.add(cname)
                    fields.append(_Field(
                        cname, prefix + (cname,), False, UNDEFINED,
                        getattr(key, "msg", None), val,
                        remove=isinstance(key, Remove),
                    ))
                    matched_wild_ids.add(id(key))
                    break
                else:
                    # unmatched: ALLOW keeps / REMOVE drops via the extra
                    # policy; only PREVENT surfaces the recorded key error
                    if key_err is not None and self.extra == PREVENT_EXTRA:
                        declared.add(cname)
                        fields.append(_Field(
                            cname, prefix + (cname,), False, UNDEFINED,
                            None, dsl.StaticKeyInvalid(*key_err),
                        ))
            # required wildcard with zero matching columns: statically
            # missing — the missing-column _Field path emits 'required
            # key not provided' with the key schema repr as the path
            # component (schema_builder.py:398-405)
            for key, kschema, val in wildcards:
                if id(key) in matched_wild_ids:
                    continue
                if (key is dsl.Extra
                        or isinstance(key, (dsl.Extra, Remove, Optional))):
                    continue
                if not (self.required or isinstance(key, Required)):
                    continue
                comp = (repr(kschema) if isinstance(kschema, type)
                        else str(kschema))
                fields.append(_Field(
                    comp, prefix + (comp,), True, UNDEFINED,
                    getattr(key, "msg", None), val,
                ))
        return fields, declared, complex_req

    def validate(
        self,
        df: DataFrame,
        id_cols: typing.Sequence[str] = (),
        extra_checks: typing.Sequence[tuple] = (),
    ) -> ValidationResult:
        """``extra_checks``: [(label, message_column[, error_type])] —
        content checks that need several columns at once (e.g. the Arrow
        PCM validator, audio.pcm_check_column). The message column is a
        string Column, NULL = valid; failures become violations at path
        [label] (default error_type 'ValueInvalid', the reference's
        catch-all for callable validators, schema_builder.py:803-805).

        Compilation is a TWO-STAGE select: stage 1 computes each field's
        err struct (the expensive CASE chain) exactly once as a hidden
        column; stage 2 assembles violation structs + the sorted errors
        array from those. This keeps every err expression single-use (no
        3x duplicate evaluation for cond/message/error_type) and keeps the
        py4j expression-building cost linear. Compiled selections are
        memoized per input schema — the reference compiles once per Schema
        too (schema_builder.py:138)."""
        if self._value_only:
            raise UnsupportedSchema(
                "table Schema must be a dict of column -> validator (or "
                "Any over dicts); a non-dict Schema validates single "
                "documents via Schema.__call__, or use compile_validator "
                "for single columns"
            )
        # keyed on what the schema compiles against; the caller's extra
        # checks are spliced in per call (their Columns may hold binary
        # literals whose repr is a JVM identity hash, new every call)
        memo_key = (
            id(df.sparkSession),  # compiled Columns are session-scoped
            df.schema.simpleString(),
            tuple(id_cols),
        )
        compiled = self._compiled_cache.get(memo_key)
        if compiled is None:
            compiled = self._compile_table(df, id_cols)
            self._compiled_cache[memo_key] = compiled
        return compiled.bind(df, id_cols, extra_checks)

    def _compile_table(self, df: DataFrame, id_cols) -> "_CompiledTable":
        """The unbound Columns ``validate`` memoizes per (session, input
        schema, id_cols)."""
        if isinstance(self.schema, dsl.Any):
            # root-level Any over mapping branches: wrap the row in one
            # struct and reuse the dict-branch machinery (identity output;
            # deepest-error branch's violations on reject)
            row_struct = F.struct(
                *[_fcol(c).alias(c) for c in df.columns])
            arr = self._any_dict_branches(
                self.schema, row_struct, df.schema, ()
            ).cast(_VIOL_ARR_T)
            empty = F.array().cast(_VIOL_ARR_T)
            return _CompiledTable(
                stage1=[F.col("*"),
                        F.coalesce(arr, empty).alias("__ea_root")],
                kept=[_fcol(c).alias(c) for c in df.columns],
                out_names=list(df.columns),
                fail_any=F.size(F.col("__ea_root")) > 0,
                empty=empty,
                tail=[F.col("__ea_root")],
            )

        fields, declared, complex_req = self._bind_fields(df.schema)
        by_name = {f.name: f.dataType for f in df.schema.fields}

        out_cols: dict[str, Column] = {}
        err_entries: list[Column] = []
        err_arrays: list[Column] = []  # array<violation> entries (MapType)
        hidden: list[Column] = []  # stage-1 err-struct columns

        # group bookkeeping for Exclusive/Inclusive
        ex_groups: dict[str, list[_Field]] = {}
        in_groups: dict[str, list[_Field]] = {}

        for fld in fields:
            dtype = by_name.get(fld.name)
            if fld.group_ex:
                ex_groups.setdefault(fld.group_ex, []).append(fld)
            if fld.group_in:
                in_groups.setdefault(fld.group_in, []).append(fld)

            if dtype is None:
                # column absent from the DataFrame entirely
                if fld.default is not UNDEFINED:
                    # the injected default is validated like any present
                    # value (the reference injects defaults BEFORE the
                    # candidate loop, schema_builder.py:299-307) — the
                    # check is a row-constant Catalyst folds away
                    dval = _resolve_default(fld.default)
                    d_t = _PY_SPARK_TYPE.get(type(dval))
                    v_spec = _unwrap_marker(fld.validator)
                    if d_t is not None and not isinstance(v_spec, dict):
                        check = compile_validator(
                            v_spec, d_t, path=fld.path
                        )
                        dlit = F.lit(dval)
                        derr = check.err(dlit)
                        err_entries.append(_violation(
                            # drop_path checks (SomeOf) raise with an
                            # empty own path even through the default-
                            # injection route (fuzz seed 5232)
                            () if check.drop_path else fld.path,
                            derr["message"], derr["error_type"],
                            py_repr_col(dlit, d_t), derr.isNotNull(),
                            ctx="dictionary value",
                        ))
                        out_cols[fld.name] = check.out(dlit)
                    else:
                        out_cols[fld.name] = F.lit(dval)
                elif fld.required:
                    err_entries.append(
                        _violation(
                            fld.path,
                            F.lit(fld.marker_msg or "required key not provided"),
                            "RequiredFieldInvalid",
                            F.lit("None"),
                            F.lit(True),
                        )
                    )
                continue

            col = _fcol(fld.name)
            if fld.remove:
                # reference Remove semantics (schema_builder.py:350-368,
                # 385-396): the key is removed only when its VALUE schema
                # passes; a failing value falls through to the extra
                # policy (kept under ALLOW_EXTRA, 'extra keys not
                # allowed' under PREVENT, dropped under REMOVE). Columns
                # are static, so removal is per-ROW: null = absent.
                dtype = by_name.get(fld.name)
                if (
                    dtype is None
                    or self.extra == REMOVE_EXTRA
                    or _value_statically_passes(fld.validator, dtype)
                ):
                    continue  # static drop: the value can never fail
                # the fail condition MUST evaluate as a hidden stage-1
                # column: in stage 2 the output column is aliased to the
                # field's own name, and Spark 4's lateral column alias
                # resolution would rebind the condition's column refs to
                # the REPLACED (nulled) column, flipping the verdict
                f_alias = f"__rm_{len(hidden)}"
                hidden.append(
                    self._value_fail_cond(
                        fld.validator, col, dtype, fld.path
                    ).alias(f_alias)
                )
                fails = F.col(f_alias)
                out_cols[fld.name] = (
                    F.when(fails, col).otherwise(F.lit(None).cast(dtype))
                )
                if self.extra == PREVENT_EXTRA:
                    err_entries.append(_violation(
                        fld.path, F.lit("extra keys not allowed"),
                        "Invalid", py_repr_col(col, dtype), fails,
                    ))
                continue
            if isinstance(fld.validator, dsl.StaticKeyInvalid):
                # column name failed a callable key schema: key error on
                # every row where the key (column) is present, bare path
                # rendering ('not a valid value @ data[k]')
                err_entries.append(_violation(
                    fld.path, F.lit(fld.validator.msg),
                    fld.validator.error_type, F.lit("None"),
                    col.isNotNull(),
                ))
                out_cols[fld.name] = col
                continue

            # nested dict / Object schema over a struct column; Self
            # re-enters the ROOT schema (bounded by StructType depth,
            # schema_builder.py:215-216)
            v = self.schema if fld.validator is dsl.Self else fld.validator
            msg_override = None
            if isinstance(v, dsl.Msg) and isinstance(v.schema, dict):
                # Msg over a mapping schema: direct-descendant errors
                # (depth <=1) collapse to Invalid(msg) at the field path
                # (schema_builder.py:942-949); deeper errors pass through
                et = v.cls if isinstance(v.cls, str) else (
                    v.cls.__name__ if v.cls else "Invalid")
                msg_override = (v.msg, et)
                v = v.schema
            seq_msg_override = None
            if (isinstance(v, dsl.Msg) and isinstance(v.schema, list)
                    and isinstance(dtype, T.ArrayType)):
                # Msg over a list schema: the depth<=1 rule is decided per
                # row from the element errors' runtime paths
                et = v.cls if isinstance(v.cls, str) else (
                    v.cls.__name__ if v.cls else "Invalid")
                seq_msg_override = (v.msg, et)
                v = v.schema
            v = _maybe_expand(v, by_name.get(fld.name), self.extra)
            if (
                isinstance(v, dsl.Any)
                and not isinstance(v, dsl.Maybe)
                and any(
                    isinstance(b, dict) or b is dsl.Self
                    or b is dsl._SelfSentinel
                    or isinstance(b, dsl._SelfSentinel)
                    or (isinstance(b, (list, tuple)) and bool(b)
                        and isinstance(by_name.get(fld.name), T.ArrayType))
                    for b in v.validators
                )
            ):
                arr = self._any_dict_branches(v, col, by_name.get(fld.name),
                                              fld.path)
                err_arrays.append(arr)
                if fld.required:
                    err_entries.append(
                        _violation(
                            fld.path,
                            F.lit(fld.marker_msg
                                  or "required key not provided"),
                            "RequiredFieldInvalid", F.lit("None"),
                            col.isNull(),
                        )
                    )
                out_cols[fld.name] = col
                continue
            if (
                isinstance(v, dsl.All)
                and any(
                    isinstance(b, dict) or isinstance(b, Schema)
                    or b is dsl.Self or b is dsl._SelfSentinel
                    or isinstance(b, dsl._SelfSentinel)
                    for b in v.validators
                )
            ):
                arr = self._all_dict_stages(v, col, by_name.get(fld.name),
                                            fld.path)
                err_arrays.append(arr)
                if fld.required:
                    err_entries.append(
                        _violation(
                            fld.path,
                            F.lit(fld.marker_msg
                                  or "required key not provided"),
                            "RequiredFieldInvalid", F.lit("None"),
                            col.isNull(),
                        )
                    )
                out_cols[fld.name] = col
                continue
            if (
                isinstance(v, dsl.All)
                and isinstance(dtype, T.ArrayType)
                and any(isinstance(s, list) for s in v.validators)
            ):
                # All with sequence stages over an array column
                # (tests.py:596-614, All([All(int, is_even)], Length)):
                # list stages surface ELEMENT errors with index paths via
                # the sequence compiler; stages run in order, first
                # failing stage's errors propagate, transformed output
                # threads through (validators.py:276-295)
                empty_v = F.array().cast(_VIOL_ARR_T)
                cur = col
                pending = []
                for stage in v.validators:
                    if isinstance(stage, list):
                        out_c, singles, arrs = self._validate_sequence(
                            stage, cur, dtype, fld.path
                        )
                        parts = (
                            [F.when(s.isNotNull(), F.array(s))
                             .otherwise(empty_v) for s in singles]
                            + [F.coalesce(a.cast(_VIOL_ARR_T), empty_v)
                               for a in arrs]
                        )
                        pending.append(
                            F.concat(*parts).cast(_VIOL_ARR_T)
                            if parts else empty_v
                        )
                        cur = out_c
                    else:
                        rc = compile_validator(
                            _unwrap_marker(stage), dtype, path=fld.path
                        )
                        e = rc.err(cur)
                        sv = _violation(
                            fld.path, e["message"], e["error_type"],
                            py_repr_col(cur, dtype), e.isNotNull(),
                            ctx="dictionary value",
                        )
                        pending.append(
                            F.when(sv.isNotNull(), F.array(sv))
                            .otherwise(empty_v).cast(_VIOL_ARR_T)
                        )
                        cur = rc.out(cur)
                if v.msg is not None:
                    losing = F.array(F.struct(
                        F.array(*_path_lits(fld.path)).alias("path"),
                        F.lit(v.msg).alias("message"),
                        F.lit("AllInvalid").alias("error_type"),
                        F.lit("None").alias("offending"),
                        F.lit("dictionary value").alias("ctx"),
                    )).cast(_VIOL_ARR_T)
                    result = empty_v
                    for a in reversed(pending):
                        result = F.when(
                            F.size(a) > 0, losing).otherwise(result)
                else:
                    result = empty_v
                    for a in reversed(pending):
                        result = F.when(F.size(a) > 0, a).otherwise(result)
                err_arrays.append(
                    F.when(col.isNull(), empty_v).otherwise(result)
                )
                if fld.required:
                    err_entries.append(
                        _violation(
                            fld.path,
                            F.lit(fld.marker_msg
                                  or "required key not provided"),
                            "RequiredFieldInvalid", F.lit("None"),
                            col.isNull(),
                        )
                    )
                out_cols[fld.name] = cur
                continue
            is_reentry = msg_override is not None
            if isinstance(v, Schema) and isinstance(v.schema, dict):
                # Schema instance as a dict value: the reference calls it
                # as a validator (a fresh Schema root with ITS OWN
                # required/extra flags) and prepends the key path on
                # unwind (validate_callable, schema_builder.py:807-809)
                is_reentry = True
                sub0, v = v, v.schema
            else:
                sub0 = None
            if isinstance(v, dict):
                sub = sub0 or Schema(v, required=self.required,
                                     extra=self.extra)
                if isinstance(dtype, T.MapType):
                    out_col, sub_errs, sub_arrs = sub._validate_map(
                        col, dtype, fld.path
                    )
                    out_cols[fld.name] = out_col
                    if getattr(sub0, "_from_maybe", False):
                        sub_errs, sub_arrs, _deep = _maybe_none_collapse(
                            fld.path, sub_errs, sub_arrs, col, dtype
                        )
                        for v_ in sub_errs:
                            al = f"__mb_{len(hidden)}"
                            hidden.append(v_.alias(al))
                            err_entries.append(F.col(al))
                        for a_ in sub_arrs:
                            al = f"__mb_{len(hidden)}"
                            hidden.append(a_.cast(_VIOL_ARR_T).alias(al))
                            err_arrays.append(F.col(al))
                        continue
                    if msg_override is not None:
                        # Msg over a dynamic-key map value: per-entry
                        # errors sit at depth 1 relative to the Msg, so
                        # the depth<=1 rule applies per row from the
                        # runtime paths; staged to stage 1 (see the
                        # struct branch)
                        sub_errs, sub_arrs = _msg_collapse_seq(
                            msg_override, fld.path, sub_errs, sub_arrs
                        )
                        for v_ in sub_errs:
                            al = f"__sv_{len(hidden)}"
                            hidden.append(v_.alias(al))
                            err_entries.append(F.col(al))
                        for a_ in sub_arrs:
                            al = f"__sv_{len(hidden)}"
                            hidden.append(a_.cast(_VIOL_ARR_T).alias(al))
                            err_arrays.append(F.col(al))
                    else:
                        err_entries.extend(sub_errs)
                        err_arrays.extend(sub_arrs)
                    continue
                from_maybe = bool(getattr(sub0, "_from_maybe", False))
                sub_arr_sink = [] if from_maybe else err_arrays
                out_col, sub_errs = sub._validate_struct(
                    col, dtype, fld.path,
                    as_object=isinstance(v, dsl.Object),
                    root=v if sub0 is not None else self.schema,
                    msg_override=msg_override,
                    arrays=sub_arr_sink,
                    rebase=len(fld.path) if is_reentry else 0,
                )
                out_cols[fld.name] = out_col
                if from_maybe:
                    # Any(None, {...}) shallow-vs-deep selection; stage
                    # the gated channels so stage-2 alias resolution
                    # cannot rebind them to the transformed struct
                    sub_errs, m_arrs, _deep = _maybe_none_collapse(
                        fld.path, sub_errs, sub_arr_sink, col, dtype
                    )
                    staged = []
                    for v_ in sub_errs:
                        al = f"__mb_{len(hidden)}"
                        hidden.append(v_.alias(al))
                        staged.append(F.col(al))
                    err_entries.extend(staged)
                    for a_ in m_arrs:
                        al = f"__mb_{len(hidden)}"
                        hidden.append(a_.cast(_VIOL_ARR_T).alias(al))
                        err_arrays.append(F.col(al))
                    continue
                if msg_override is not None:
                    # the Msg collapse condition references the ORIGINAL
                    # nested column; evaluate the returned entries as
                    # stage-1 columns so stage-2 lateral alias resolution
                    # cannot rebind them to the REPLACED (transformed)
                    # struct (fuzz seed 2638)
                    for v_ in sub_errs:
                        al = f"__sv_{len(hidden)}"
                        hidden.append(v_.alias(al))
                        err_entries.append(F.col(al))
                else:
                    err_entries.extend(sub_errs)
                continue

            if isinstance(v, (list, tuple)) and isinstance(dtype, T.ArrayType):
                # element-level errors with index paths
                out_col, seq_singles, seq_arrs = self._validate_sequence(
                    v, col, dtype, fld.path
                )
                if seq_msg_override is not None:
                    seq_singles, seq_arrs = _msg_collapse_seq(
                        seq_msg_override, fld.path, seq_singles, seq_arrs
                    )
                    # evaluate the gated channel in stage 1: in stage 2
                    # the output alias REPLACES the source column (the
                    # element-filtered array) and Spark 4's lateral
                    # column alias resolution would rebind the collapse
                    # condition to it, flipping the verdict
                    staged = []
                    for s_ in seq_singles:
                        al = f"__ms_{len(hidden)}"
                        hidden.append(s_.alias(al))
                        staged.append(F.col(al))
                    seq_singles = staged
                    staged = []
                    for a_ in seq_arrs:
                        al = f"__ms_{len(hidden)}"
                        hidden.append(a_.cast(_VIOL_ARR_T).alias(al))
                        staged.append(F.col(al))
                    seq_arrs = staged
                if fld.required:
                    err_entries.append(
                        _violation(
                            fld.path,
                            F.lit(fld.marker_msg
                                  or "required key not provided"),
                            "RequiredFieldInvalid", F.lit("None"),
                            col.isNull(),
                        )
                    )
                out_cols[fld.name] = out_col
                err_entries.extend(seq_singles)
                err_arrays.extend(seq_arrs)
                continue

            check = compile_validator(
                _unwrap_marker(fld.validator), dtype, path=fld.path
            )
            _dlit = (
                _default_lit(fld.default, dtype)
                if fld.default is not UNDEFINED else None
            )
            defaulted = F.coalesce(col, _dlit) if _dlit is not None else col
            present = defaulted.isNotNull()
            out = check.out(defaulted)
            err = check.err(defaulted)
            repr_c = py_repr_col(defaulted, dtype)

            if fld.required:
                err_entries.append(
                    _violation(
                        fld.path,
                        F.lit(fld.marker_msg or "required key not provided"),
                        "RequiredFieldInvalid",
                        F.lit("None"),
                        ~present,
                    )
                )
            if check.multi is not None:
                # multi-error channel (e.g. Unordered): one violation per
                # accumulated entry, all at the field path with the
                # mapping ctx (schema_builder.py:369-371)
                from .errors import truncate_repr

                m_alias = f"__e_{len(hidden)}"
                hidden.append(
                    F.when(present, check.multi(defaulted)).alias(m_alias)
                )
                m = F.col(m_alias)
                path_lits = _path_lits(fld.path)
                err_arrays.append(F.when(
                    m.isNotNull(),
                    F.transform(m, lambda s: F.struct(
                        F.array(*path_lits).alias("path"),
                        s["message"].alias("message"),
                        s["error_type"].alias("error_type"),
                        truncate_repr(repr_c).alias("offending"),
                        F.lit("dictionary value").alias("ctx"),
                    )),
                ))
                out_cols[fld.name] = out
                continue
            # expensive err CASE chain -> hidden stage-1 column, single-use
            e_alias = f"__e_{len(hidden)}"
            hidden.append(
                F.when(present, err).alias(e_alias)
            )
            e = F.col(e_alias)
            err_entries.append(
                _violation(
                    () if check.drop_path else fld.path,
                    e["message"], e["error_type"], repr_c,
                    e.isNotNull(), ctx="dictionary value",
                )
            )
            out_cols[fld.name] = out

        # Exclusive groups (schema_builder.py:536-553); a column absent
        # from the DataFrame counts as an absent key, not an error.
        # Group errors are collected APART from mapping errors: the
        # reference raises them before mapping validation ever runs
        # (schema_builder.py:551-552,568-569), so a row with a group
        # violation reports ONLY its group errors — exclusive first, and
        # failing that, the FIRST failing inclusion group (the loop at
        # :556-567 breaks after one error).
        excl_entries: list[Column] = []
        incl_entries: list[Column] = []
        for label, grp in ex_groups.items():
            cnt = sum(
                (
                    _fcol(f.name).isNotNull().cast("int")
                    if f.name in by_name else F.lit(0)
                    for f in grp
                ),
                F.lit(0),
            )
            msg = _excl_trigger_msg(
                grp, label,
                lambda f: (_fcol(f.name).isNotNull()
                           if f.name in by_name else F.lit(False)),
            )
            excl_entries.append(
                _violation((f"<{label}>",), msg, "ExclusiveInvalid",
                           F.lit("None"), cnt > 1)
            )
        # Inclusive groups (schema_builder.py:555-571)
        for label, grp in in_groups.items():
            cnt = sum(
                (
                    _fcol(f.name).isNotNull().cast("int")
                    if f.name in by_name else F.lit(0)
                    for f in grp
                ),
                F.lit(0),
            )
            msg = next((f.marker_msg for f in grp if f.marker_msg), None) or (
                f"some but not all values in the same group of inclusion '{label}'"
            )
            incl_entries.append(
                _violation((f"<{label}>",), F.lit(msg), "InclusiveInvalid",
                           F.lit("None"), (cnt > 0) & (cnt < len(grp)))
            )

        # complex required keys: at least one candidate non-null
        # (schema_builder.py:311-325; message format from tests.py:2042-2065)
        for cands, cmsg in complex_req:
            present_any = F.lit(False)
            for c in cands:
                if c in by_name:
                    present_any = present_any | _fcol(c).isNotNull()
            # the reference emits TWO errors per unsatisfied group
            # (schema_builder.py:311-325 appends the group error, then the
            # marker stays in required_keys and :397-404 appends
            # 'required key not provided' — tests.py:2067-2135): both at
            # path + [marker], whose repr is the inner Any's
            # (bare-rendered, not quoted)
            path_el = f"Any({', '.join(map(repr, cands))}, msg=None)"
            m = cmsg or f"at least one of {list(cands)} is required"
            err_entries.append(
                _violation(
                    (path_el,), F.lit(m), "RequiredFieldInvalid",
                    F.lit("None"), ~present_any,
                )
            )
            err_entries.append(
                _violation(
                    (path_el,), F.lit(cmsg or "required key not provided"),
                    "RequiredFieldInvalid", F.lit("None"), ~present_any,
                )
            )

        # the caller's multi-column content checks go here, per call
        n_head = len(err_entries)

        # extra-key policy (schema_builder.py:384-396)
        extra_cols = [c for c in df.columns if c not in declared]
        if self.extra == PREVENT_EXTRA:
            for c in extra_cols:
                err_entries.append(
                    _violation(
                        (c,), F.lit("extra keys not allowed"), "Invalid",
                        py_repr_col(_fcol(c), by_name[c]),
                        _fcol(c).isNotNull(),
                    )
                )
        elif self.extra == ALLOW_EXTRA:
            for c in extra_cols:
                out_cols.setdefault(c, _fcol(c))
        # REMOVE_EXTRA: simply not projected

        empty = F.array().cast(_VIOL_ARR_T)
        # map-entry violation arrays are dynamic-length: evaluate each ONCE
        # as a hidden stage-1 column (the transform/filter lambdas are the
        # expensive part), then concat by reference
        arr_refs: list[Column] = []
        for arr in err_arrays:
            a_alias = f"__ea_{len(hidden)}"
            hidden.append(arr.cast(_VIOL_ARR_T).alias(a_alias))
            arr_refs.append(F.col(a_alias))
        wrapped = [
            F.when(en.isNotNull(), F.array(en)).otherwise(empty)
            for en in err_entries
        ]
        # pass/fail as a plain boolean disjunction: each entry is
        # `when(cond, struct).otherwise(null)`, so isNotNull() == cond.
        # Used by `valid` so its filter stays inside whole-stage codegen
        # (no array lambdas) and evaluates each check once.
        fail_any = F.lit(False)
        for en in err_entries + excl_entries + incl_entries:
            fail_any = fail_any | en.isNotNull()
        for a in arr_refs:
            fail_any = fail_any | (F.size(F.coalesce(a, empty)) > 0)
        keep_ids = [c for c in id_cols if c not in out_cols]
        return _CompiledTable(
            stage1=[F.col("*")] + hidden,  # unbound: reusable across frames
            kept=[_fcol(c).alias(c) for c in keep_ids]
            + [expr.alias(name) for name, expr in out_cols.items()],
            out_names=list(keep_ids) + list(out_cols),
            fail_any=fail_any,
            head=wrapped[:n_head],
            tail=wrapped[n_head:] + [F.coalesce(a, empty) for a in arr_refs],
            first_incl=(
                incl_entries[0] if len(incl_entries) == 1
                else F.coalesce(*incl_entries)
            ) if incl_entries else None,
            excl_arr=F.concat(*[
                F.when(en.isNotNull(), F.array(en)).otherwise(empty)
                for en in excl_entries
            ]) if excl_entries else None,
            empty=empty,
        )

    def _validate_map(self, col: Column, dtype: T.MapType,
                      prefix: tuple[str, ...]):
        """Validate a MapType column against a dict schema with dynamic
        keys (reference dynamic mapping keys, schema_builder.py:469-488):
        literal keys behave like struct fields (Required/Optional/default),
        wildcard keys (Python types like ``{str: int}``, validators like
        ``{Coerce(int): str}``) match any map entry whose key satisfies
        them. Entry order of candidate matching follows the reference's
        priority (values, Remove, markers, callables, types, Extra —
        ``_compile_itemsort``, schema_builder.py:821-861). Unmatched keys
        hit the extra policy ('extra keys not allowed' under
        PREVENT_EXTRA, pass under ALLOW_EXTRA, dropped under
        REMOVE_EXTRA).

        Returns ``(out_col, single_errs, err_arrays)`` where err_arrays
        are ``array<violation>`` Columns built per map entry via
        transform/filter (no per-row Python; the lambda runs JVM-side).
        """
        from .errors import truncate_repr

        key_t, val_t = dtype.keyType, dtype.valueType

        # -- classify candidates in reference priority order ----------------
        def _prio(key):
            if key is dsl.Extra or isinstance(key, dsl.Extra):
                return 5
            if isinstance(key, Remove):
                return 1
            if isinstance(key, Marker):
                return 2
            if isinstance(key, type):
                return 4
            if isinstance(key, dsl.Validator) or callable(key):
                return 3
            return 0  # literal values first

        items = sorted(self.schema.items(), key=lambda kv: _prio(kv[0]))

        def _key_match(key_schema, k: Column) -> Column:
            """Does map key `k` satisfy this candidate key schema?"""
            if key_schema is dsl.Extra or isinstance(key_schema, dsl.Extra):
                return F.lit(True)
            if isinstance(key_schema, (Remove, Marker)):
                return _key_match(key_schema.schema, k)
            if isinstance(key_schema, type):
                return F.lit(dsl._pytype_matches(key_schema, key_t))
            if isinstance(key_schema, dsl.Validator):
                return key_schema.bind(key_t).err(k).isNull()
            if not dsl._lit_comparable(key_schema, key_t):
                return F.lit(False)  # cross-type literal key never matches
            return k.eqNullSafe(F.lit(key_schema))

        cands = []  # (match_fn, value_check, is_remove, key_schema)
        for key, val in items:
            is_remove = isinstance(key, Remove)
            vcheck = (None if is_remove
                      else compile_validator(_unwrap_marker(val), val_t))
            cands.append((key, vcheck, is_remove))

        # -- per-entry violations -------------------------------------------
        prefix_lits = _path_lits(prefix)

        def entry_violation(k: Column, v: Column) -> Column:
            # first matching candidate's value check decides; no candidate
            # -> extra policy
            err = None  # err struct or NULL for the matched branch
            matched = F.lit(False)
            branches = []
            for key, vcheck, is_remove in cands:
                m = _key_match(key, k)
                if is_remove:
                    branches.append((m, F.lit(None).cast(RowCheck._ERR_T)))
                else:
                    branches.append((m, vcheck.err(v)))
                matched = matched | m
            expr = (
                F.lit(None).cast(RowCheck._ERR_T)
                if self.extra != PREVENT_EXTRA
                else err_struct_local("extra keys not allowed", "Invalid")
            )
            for m, e in reversed(branches):
                expr = F.when(m, e).otherwise(expr)
            is_extra_err = ~matched & F.lit(self.extra == PREVENT_EXTRA)
            return F.when(
                expr.isNull(), F.lit(None)
            ).otherwise(
                F.struct(
                    F.array(*prefix_lits, k.cast("string")).alias("path"),
                    expr["message"].alias("message"),
                    expr["error_type"].alias("error_type"),
                    truncate_repr(
                        F.when(is_extra_err, py_repr_col(v, val_t))
                        .otherwise(py_repr_col(v, val_t))
                    ).alias("offending"),
                    F.when(is_extra_err, F.lit(None).cast("string"))
                    .otherwise(F.lit("dictionary value")).alias("ctx"),
                )
            )

        def err_struct_local(message, error_type):
            return F.struct(
                F.lit(message).alias("message"),
                F.lit(error_type).alias("error_type"),
            ).cast(RowCheck._ERR_T)

        entries = F.map_entries(col)
        entry_errs = F.filter(
            F.transform(
                entries, lambda e: entry_violation(e["key"], e["value"])
            ),
            lambda x: x.isNotNull(),
        )
        err_arrays = [F.when(col.isNotNull(), entry_errs)]

        # -- literal-key marker checks (required / defaults) ----------------
        single_errs: list[Column] = []
        out = col
        for key, val in self.schema.items():
            name = _key_name(key)
            if not isinstance(name, (str, int, float, bool)):
                # WILDCARD key (type / validator): under required=True or
                # an explicit Required marker the reference demands >= 1
                # matching data key — an empty/unmatched map leaves the
                # key in required_keys and yields 'required key not
                # provided @ data[...][<class 'str'>]' with the key
                # SCHEMA as the final path component
                # (schema_builder.py:398-405; repr'd by error.py:49-50,
                # rendered bare by our '<...>' rule in render_violation)
                if (key is dsl.Extra or isinstance(key, (dsl.Extra, Remove))
                        or isinstance(key, Optional)):
                    continue
                if not (self.required or isinstance(key, Required)):
                    continue
                inner = key.schema if isinstance(key, Marker) else key
                comp = repr(inner) if isinstance(inner, type) else str(inner)
                any_m = F.exists(
                    F.map_keys(col), lambda k: _key_match(key, k)
                )
                single_errs.append(
                    _violation(
                        prefix + (comp,),
                        F.lit(getattr(key, "msg", None)
                              or "required key not provided"),
                        "RequiredFieldInvalid", F.lit("None"),
                        col.isNotNull()
                        & ~F.coalesce(any_m, F.lit(False)),
                    )
                )
                continue
            if not dsl._lit_comparable(name, key_t):
                # a literal schema key of another type than the map's key
                # type can never be present (Python cross-type equality is
                # False; an ANSI cast would throw — Schema({'one': 'two',
                # int: str}) over {10: 'twenty'})
                contains = F.lit(False)
            else:
                contains = F.map_contains_key(col, F.lit(name))
            default = getattr(key, "default", UNDEFINED)
            # Optional opts a key OUT of schema-level required=True
            # (schema_builder.py:1018-1049; README 'Optional dictionary
            # keys': Schema({1: 2, Optional(3): 4}, required=True)({1: 2})
            # passes)
            required = (
                isinstance(key, Required)
                or (self.required and not isinstance(key, Optional))
            )
            if default is not UNDEFINED and dsl._lit_comparable(name, key_t):
                d = F.lit(_resolve_default(default)).cast(val_t)
                out = F.when(
                    out.isNotNull() & ~F.map_contains_key(out, F.lit(name)),
                    F.map_concat(out, F.create_map(F.lit(name).cast(key_t), d)),
                ).otherwise(out)
            elif required and not isinstance(key, (Exclusive, Inclusive)):
                single_errs.append(
                    _violation(
                        prefix + (str(name),),
                        F.lit(getattr(key, "msg", None)
                              or "required key not provided"),
                        "RequiredFieldInvalid", F.lit("None"),
                        col.isNotNull() & ~contains,
                    )
                )

        # -- output map: Remove keys dropped, REMOVE_EXTRA pruned,
        #    value transforms applied per first matching candidate ----------
        def any_match(k, which):
            m = F.lit(False)
            for key, _vc, is_remove in cands:
                if which(is_remove):
                    m = m | _key_match(key, k)
            return m

        removes = [c for c in cands if c[2]]
        if removes:
            out = F.map_filter(
                out, lambda k, v: ~any_match(k, lambda r: r)
            )
        if self.extra == REMOVE_EXTRA:
            out = F.map_filter(
                out, lambda k, v: any_match(k, lambda r: not r)
            )

        def value_out(k, v):
            expr = v
            for key, vcheck, is_remove in reversed(cands):
                if is_remove or vcheck is None:
                    continue
                o = vcheck.out(v)
                same_t = (vcheck.out_type is None
                          or vcheck.out_type.simpleString()
                          == val_t.simpleString())
                if same_t:
                    expr = F.when(
                        _key_match(key, k) & vcheck.err(v).isNull(), o
                    ).otherwise(expr)
            return expr

        out = F.transform_values(out, value_out)
        # key transform: the reference's canonical wildcard-key transform
        # is Coerce on keys ({Coerce(int): str}, schema_builder.py:483-488)
        coerce_keys = [
            key for key, _vc, _r in cands if isinstance(key, dsl.Coerce)
        ]
        if len(coerce_keys) == 1 and len(cands) == 1:
            kcheck = coerce_keys[0].bind(key_t)
            # un-coercible keys are already extra-key errors (or pruned);
            # drop them from the output BEFORE the key cast so the cast
            # never yields a NULL map key (which Spark rejects at runtime)
            out = F.transform_keys(
                F.map_filter(out, lambda k, v: kcheck.err(k).isNull()),
                lambda k, v: kcheck.out(k),
            )

        # -- Exclusive/Inclusive groups over dynamic-key maps (reference
        #    _compile_dict:520-571 runs group checks at EVERY mapping
        #    level; a firing group raises BEFORE mapping validation, so
        #    it suppresses every other error of this level) -------------
        m_ex_groups: dict[str, list] = {}
        m_in_groups: dict[str, list] = {}
        for key in self.schema:
            if isinstance(key, Exclusive):
                m_ex_groups.setdefault(
                    key.group_of_exclusion, []).append(key)
            elif isinstance(key, Inclusive):
                m_in_groups.setdefault(
                    key.group_of_inclusion, []).append(key)
        if m_ex_groups or m_in_groups:
            def _m_cnt(grp):
                return sum(
                    (
                        F.map_contains_key(
                            col, F.lit(_key_name(k))).cast("int")
                        if dsl._lit_comparable(_key_name(k), key_t)
                        else F.lit(0)
                        for k in grp
                    ),
                    F.lit(0),
                )

            def _m_present(k):
                name = _key_name(k)
                if not dsl._lit_comparable(name, key_t):
                    return F.lit(False)
                return col.isNotNull() & F.map_contains_key(
                    col, F.lit(name))

            grp_errs: list[Column] = []
            excl_any = F.lit(False)
            for label, grp in m_ex_groups.items():
                cond = col.isNotNull() & (_m_cnt(grp) > 1)
                grp_errs.append(_violation(
                    prefix + (f"<{label}>",),
                    _excl_trigger_msg(grp, label, _m_present),
                    "ExclusiveInvalid", F.lit("None"), cond,
                ))
                excl_any = excl_any | cond
            not_prev = F.lit(True)
            incl_any = F.lit(False)
            for label, grp in m_in_groups.items():
                c = _m_cnt(grp)
                cond = col.isNotNull() & (c > 0) & (c < len(grp))
                incl_any = incl_any | cond
                msg = next((k.msg for k in grp if k.msg), None) or (
                    "some but not all values in the same group of "
                    f"inclusion '{label}'"
                )
                grp_errs.append(_violation(
                    prefix + (f"<{label}>",), F.lit(msg),
                    "InclusiveInvalid", F.lit("None"),
                    ~excl_any & not_prev & cond,
                ))
                not_prev = not_prev & ~cond
            grp_fired = excl_any | incl_any
            single_errs = [F.when(~grp_fired, e) for e in single_errs]
            err_arrays = [F.when(~grp_fired, a) for a in err_arrays]
            single_errs[:0] = grp_errs
        return out, single_errs, err_arrays

    def _any_dict_branches(self, v, col: Column, dtype,
                           prefix: tuple[str, ...]) -> Column:
        """``Any({...}, {...})`` over a struct column with the reference's
        deepest-error selection (validators.py:322-336): each dict branch
        validates independently; if none passes, the surfaced errors are
        those of the branch whose FIRST error has the strictly-longest
        path (ties keep the earliest branch) — exactly the
        ``len(e.path) > len(error.path)`` bookkeeping of
        ``_WithSubValidators._exec``. Validation-only (identity output):
        branch transforms cannot merge into one statically-typed column.

        Returns one array<violation> Column (empty = pass)."""
        empty = F.array().cast(_VIOL_ARR_T)
        branch_arrays = []
        for b in v.validators:
            # Self re-enters the ROOT schema (schema_builder.py:215-216);
            # recursion is bounded by the column's static dtype depth —
            # a dict branch over a non-struct dtype fails statically
            # without compiling its values (tests.py:1454-1466,
            # Any(Self, 'stop'))
            if b is dsl.Self or b is dsl._SelfSentinel or isinstance(
                    b, dsl._SelfSentinel):
                b = self.schema
            if (isinstance(b, (list, tuple)) and b
                    and not isinstance(b, dict)):
                # sequence branch: element errors carry runtime index
                # paths (strictly deeper than the field path), so the
                # deepest-error selection surfaces them over sibling
                # scalar branches' shallow errors — reference
                # validators.py:330-336 over _compile_sequence results
                if isinstance(dtype, T.ArrayType):
                    _, seq_singles, seq_arrs = self._validate_sequence(
                        list(b), col, dtype, prefix
                    )
                    parts = [
                        F.when(e.isNotNull(), F.array(e)).otherwise(empty)
                        for e in seq_singles
                    ] + [F.coalesce(a.cast(_VIOL_ARR_T), empty)
                         for a in seq_arrs]
                    arr = (F.concat(*parts).cast(_VIOL_ARR_T)
                           if parts else empty)
                else:
                    arr = F.when(
                        col.isNotNull(),
                        F.array(F.struct(
                            F.array(*_path_lits(prefix)).alias("path"),
                            F.lit("expected a list").alias("message"),
                            F.lit("SequenceTypeInvalid").alias(
                                "error_type"),
                            py_repr_col(col, dtype).alias("offending"),
                            F.lit("dictionary value").alias("ctx"),
                        )),
                    ).otherwise(empty).cast(_VIOL_ARR_T)
                branch_arrays.append(arr)
                continue
            if not isinstance(b, dict):
                # scalar branch mixed with dict branches: compile against
                # the column dtype; its error sits at the field path
                rc = compile_validator(b, dtype)
                e = rc.err(col)
                branch_arrays.append(
                    F.when(
                        col.isNotNull() & e.isNotNull(),
                        F.array(F.struct(
                            F.array(*_path_lits(prefix)).alias("path"),
                            e["message"].alias("message"),
                            e["error_type"].alias("error_type"),
                            py_repr_col(col, dtype).alias("offending"),
                            F.lit("dictionary value").alias("ctx"),
                        )),
                    ).otherwise(empty).cast(_VIOL_ARR_T)
                )
                continue
            # branch compiles use the combinator's OWN required= kwarg,
            # NOT the outer schema's: __voluptuous_compile__ sets
            # ``schema.required = self.required`` (default False) around
            # each sub-compile (validators.py:259-267; tests.py:1607-1622)
            sub = Schema(
                b,
                required=bool(getattr(v, "required", False)),
                extra=self.extra,
            )
            sub_arrays: list = []
            if isinstance(dtype, T.StructType):
                _, sub_errs = sub._validate_struct(col, dtype, prefix,
                                                   arrays=sub_arrays)
            else:
                # the dict gate raises AT the key path; an enclosing
                # mapping (non-empty prefix) stamps the 'dictionary
                # value' context (schema_builder.py:368-371)
                sub_errs = [_violation(
                    prefix, F.lit("expected a dictionary"), "DictInvalid",
                    F.lit("None"), col.isNotNull(),
                    ctx="dictionary value" if prefix else None,
                )]
            parts = [
                F.when(e.isNotNull(), F.array(e)).otherwise(empty)
                for e in sub_errs
            ] + [F.coalesce(a.cast(_VIOL_ARR_T), empty) for a in sub_arrays]
            arr = F.concat(*parts).cast(_VIOL_ARR_T) if parts else empty
            branch_arrays.append(arr)
        # Union discriminant routing (validators.py:343-382): the
        # reference's canonical discriminant filters candidate branches
        # by a literal tag key (``lambda val, alts: filter(lambda a:
        # a['type'] == val['type'], alts)``). The lambda itself cannot
        # run on a Column, but its effect is expressible: a branch is a
        # CANDIDATE for a row iff every literal-valued key in the branch
        # equals the row's value. Only candidate branches can pass, and
        # error selection (deepest-first-error) runs among candidates;
        # zero candidates -> AnyInvalid('no valid value found').
        # Arbitrary non-tag discriminants degrade to plain Any semantics
        # (documented; same result whenever the discriminant is the tag
        # filter idiom).
        routed = (
            isinstance(v, dsl.Union)
            and v.discriminant is not None
            and isinstance(dtype, T.StructType)
        )
        if routed:
            by_name = {f.name: f for f in dtype.fields}

            def _branch_literals(b) -> dict:
                return {
                    _key_name(k): x for k, x in b.items()
                    if isinstance(x, (str, int, float))
                    and not isinstance(x, type)
                }

            def _probe_tag_keys(b) -> set:
                """Which literal keys does the discriminant ACTUALLY
                compare? Probe it at compile time: perturb one literal at
                a time and watch whether the branch drops out (the
                doctest idiom compares only 'type'; the all-literals
                idiom drops the branch on any change). Any probe failure
                degrades to all literal keys (the conservative filter)."""
                lits = _branch_literals(b)
                alts = list(v.validators)
                try:
                    if b not in list(v.discriminant(dict(lits), alts)):
                        return set(lits)
                except Exception:
                    return set(lits)
                tag = set()
                for k in lits:
                    probe = dict(lits)
                    probe[k] = "__vs_probe__"
                    try:
                        if b not in list(v.discriminant(probe, alts)):
                            tag.add(k)
                    except Exception:
                        tag.add(k)
                return tag

            def candidacy(b) -> Column:
                pred = F.lit(True)
                tag_keys = _probe_tag_keys(b)
                for k, val in b.items():
                    name = _key_name(k)
                    if name not in tag_keys:
                        continue
                    if isinstance(val, (str, int, float)) and not isinstance(
                            val, type):
                        if name not in by_name:
                            pred = F.lit(False)
                        elif not dsl._lit_comparable(
                                val, by_name[name].dataType):
                            # cross-type tag equality is False in Python;
                            # an ANSI-mode Spark == would instead throw
                            # CAST_INVALID_INPUT at runtime (fuzz 7009)
                            pred = F.lit(False)
                        else:
                            pred = pred & F.coalesce(
                                col[name] == F.lit(val), F.lit(False)
                            )
                return pred

            cand = [candidacy(b) for b in v.validators]
        else:
            cand = [F.lit(True) for _ in v.validators]
        if v.msg is not None:
            # AnyInvalid(msg) raised AT the key path — the enclosing
            # mapping stamps the 'dictionary value' context
            # (schema_builder.py:368-371), same as the no-msg fallback
            losing = F.array(F.struct(
                F.array(*_path_lits(prefix)).alias("path"),
                F.lit(v.msg).alias("message"),
                F.lit(v.error_type).alias("error_type"),
                F.lit("None").alias("offending"),
                F.lit("dictionary value").alias("ctx"),
            )).cast(_VIOL_ARR_T)
        else:
            # strictly-deeper-first-error wins among CANDIDATE branches;
            # earlier branch on ties; no candidates -> AnyInvalid
            depth = [
                F.when(c & (F.size(a) > 0),
                       F.size(F.element_at(a, 1)["path"]))
                .otherwise(F.lit(-1))
                for a, c in zip(branch_arrays, cand)
            ]
            losing = F.array(F.struct(
                F.array(*_path_lits(prefix)).alias("path"),
                F.lit("no valid value found").alias("message"),
                F.lit("AnyInvalid").alias("error_type"),
                F.lit("None").alias("offending"),
                F.lit("dictionary value").alias("ctx"),
            )).cast(_VIOL_ARR_T)
            best_d = F.lit(-1)
            for a, d in zip(branch_arrays, depth):
                losing = F.when(d > best_d, a).otherwise(losing)
                best_d = F.when(d > best_d, d).otherwise(best_d)
        any_ok = F.lit(False)
        for a, c in zip(branch_arrays, cand):
            any_ok = any_ok | (c & (F.size(a) == 0))
        return F.when(
            col.isNull() | any_ok, empty
        ).otherwise(losing)

    def _all_dict_stages(self, v, col: Column, dtype,
                         prefix: tuple[str, ...]) -> Column:
        """``All`` whose stages include mapping schemas / ``Self`` /
        ``Schema`` instances over one struct column (reference
        tests.py:1469-1494, ``All(Self, Schema({...}))``): stages run in
        declaration order and the FIRST failing stage's errors propagate
        (validators.py:276-295 raises out of the loop). Self re-enters
        the ROOT schema, recursion bounded by the static dtype depth.
        Value threading between dict stages is identity (a struct column
        cannot change shape mid-expression) — same documented divergence
        as Any over dict branches."""
        empty = F.array().cast(_VIOL_ARR_T)
        stage_arrays = []
        for b in v.validators:
            if b is dsl.Self or b is dsl._SelfSentinel or isinstance(
                    b, dsl._SelfSentinel):
                b = self.schema
            if isinstance(b, Schema):
                sub, b_dict = b, b.schema
            elif isinstance(b, dict):
                sub = Schema(b, required=self.required, extra=self.extra)
                b_dict = b
            else:
                rc = compile_validator(b, dtype)
                e = rc.err(col)
                stage_arrays.append(
                    F.when(
                        col.isNotNull() & e.isNotNull(),
                        F.array(F.struct(
                            F.array(*_path_lits(prefix)).alias("path"),
                            e["message"].alias("message"),
                            e["error_type"].alias("error_type"),
                            py_repr_col(col, dtype).alias("offending"),
                            F.lit("dictionary value").alias("ctx"),
                        )),
                    ).otherwise(empty).cast(_VIOL_ARR_T)
                )
                continue
            if not isinstance(b_dict, dict):
                raise UnsupportedSchema(
                    "All stages over a struct column must be mappings, "
                    f"Self, or scalar validators; got {b_dict!r}"
                )
            sub_arrays: list = []
            if isinstance(dtype, T.StructType):
                _, sub_errs = sub._validate_struct(col, dtype, prefix,
                                                   arrays=sub_arrays)
            else:
                # the dict gate raises AT the key path; an enclosing
                # mapping (non-empty prefix) stamps the 'dictionary
                # value' context (schema_builder.py:368-371)
                sub_errs = [_violation(
                    prefix, F.lit("expected a dictionary"), "DictInvalid",
                    F.lit("None"), col.isNotNull(),
                    ctx="dictionary value" if prefix else None,
                )]
            parts = [
                F.when(e.isNotNull(), F.array(e)).otherwise(empty)
                for e in sub_errs
            ] + [F.coalesce(a.cast(_VIOL_ARR_T), empty) for a in sub_arrays]
            stage_arrays.append(
                F.concat(*parts).cast(_VIOL_ARR_T) if parts else empty
            )
        if v.msg is not None:
            losing = F.array(F.struct(
                F.array(*_path_lits(prefix)).alias("path"),
                F.lit(v.msg).alias("message"),
                F.lit("AllInvalid").alias("error_type"),
                F.lit("None").alias("offending"),
                F.lit(None).cast("string").alias("ctx"),
            )).cast(_VIOL_ARR_T)
            result = empty
            for a in reversed(stage_arrays):
                result = F.when(F.size(a) > 0, losing).otherwise(result)
        else:
            # first failing stage wins, in declaration order
            result = empty
            for a in reversed(stage_arrays):
                result = F.when(F.size(a) > 0, a).otherwise(result)
        return F.when(col.isNull(), empty).otherwise(result)

    def _validate_sequence(self, alternatives: list, col: Column,
                           dtype: T.ArrayType, prefix: tuple[str, ...]):
        """Element-level sequence validation (reference _compile_sequence,
        schema_builder.py:578-631): each element must match >=1
        alternative in order; elements matching a Remove alternative are
        dropped; a failing element contributes ONE violation at
        ``path + [index]`` carrying the LAST alternative's error (the
        reference overwrites ``invalid`` per failed alternative and keeps
        the final one) with no mapping ctx (depth > key depth, so
        ``error_type`` is never set to 'dictionary value' —
        schema_builder.py:369-371).

        Returns (out_col, single_errs, err_arrays)."""
        from .errors import truncate_repr

        elem_t = dtype.elementType
        if any(isinstance(a, dict) for a in alternatives):
            dicts = [a for a in alternatives if isinstance(a, dict)]
            if isinstance(elem_t, T.StructType):
                if len(dicts) != 1:
                    raise UnsupportedSchema(
                        "sequence-of-mapping schemas support exactly one "
                        "dict alternative over an array<struct> column"
                    )
                # mixed alternatives (tests.md:3-44, Schema(['one',
                # {...}])): scalar alternatives can never match a struct
                # element (cross-type equality is statically False), so
                # the dict alternative alone decides; its inner errors
                # follow the reference's deep-abort semantics
                return self._validate_dict_elements(
                    dicts[0], col, dtype, prefix
                )
            # non-struct elements: a dict alternative shallow-fails every
            # element with the reference's gate error ('expected a
            # dictionary', schema_builder.py:452-455); keep it in
            # POSITION so the last-failing-alternative rule picks the
            # reference's message (tests.md:18 'expected a dictionary
            # @ data[1]')
            alternatives = [
                dsl.ConstantFail("expected a dictionary", "DictInvalid")
                if isinstance(a, dict) else a
                for a in alternatives
            ]
        removes = [compile_validator(a.schema, elem_t)
                   for a in alternatives if isinstance(a, Remove)]
        keeps = [compile_validator(a, elem_t)
                 for a in alternatives if not isinstance(a, Remove)]
        out_col = compile_validator(alternatives, dtype).out(col)
        prefix_lits = _path_lits(prefix)

        if not alternatives:
            # empty schema rejects any non-empty sequence
            # (schema_builder.py:598-603); the error's path equals the
            # key path, so the mapping context applies
            # ('not a valid value for dictionary value',
            # schema_builder.py:369-371)
            return out_col, [
                _violation(prefix, F.lit("not a valid value"),
                           "ValueInvalid", F.lit("None"),
                           col.isNotNull() & (F.size(col) > 0),
                           ctx="dictionary value")
            ], []

        udf_mode = any(c.err_arr is not None for c in removes + keeps)
        if udf_mode:
            # UDF-backed alternatives: Python UDFs are illegal inside
            # higher-order lambda BODIES but legal as higher-order
            # ARGUMENTS — zip index + value + per-alternative err arrays
            # positionally, then transform with PURE lambdas over the
            # zipped struct fields
            rm_arrs = [dsl._err_arr_of(rc)(col) for rc in removes]
            kp_arrs = [dsl._err_arr_of(kc)(col) for kc in keeps]
            z = F.arrays_zip(
                F.sequence(F.lit(0), F.size(col) - 1).alias("i"),
                col.alias("v"),
                *[a.alias(f"r{k}") for k, a in enumerate(rm_arrs)],
                *[a.alias(f"k{k}") for k, a in enumerate(kp_arrs)],
            )

            def per_s(s):
                removed = F.lit(False)
                for k in range(len(rm_arrs)):
                    removed = removed | s[f"r{k}"].isNull()
                matched = F.lit(False)
                for k in range(len(kp_arrs)):
                    matched = matched | s[f"k{k}"].isNull()
                if keeps:
                    last = s[f"k{len(kp_arrs) - 1}"]
                    msg, et = last["message"], last["error_type"]
                else:
                    msg = F.lit("not a valid value")
                    et = F.lit("ValueInvalid")
                failing = ~F.coalesce(removed, F.lit(False)) & ~F.coalesce(
                    matched, F.lit(False)
                )
                return F.when(
                    failing,
                    F.struct(
                        F.array(*prefix_lits,
                                s["i"].cast("string")).alias("path"),
                        msg.alias("message"),
                        et.alias("error_type"),
                        truncate_repr(
                            py_repr_col(s["v"], elem_t)).alias("offending"),
                        F.lit(None).cast("string").alias("ctx"),
                    ),
                ).otherwise(F.lit(None))

            arr = F.when(
                col.isNotNull() & (F.size(col) > 0),
                F.filter(F.transform(z, per_s), lambda s: s.isNotNull()),
            )
            return out_col, [], [arr]

        def per_elem(i):
            idx = (i + 1).cast("int")
            x = F.try_element_at(col, idx)
            rm_errs = [rc.err(x) for rc in removes]
            kp_errs = [kc.err(x) for kc in keeps]
            removed = F.lit(False)
            for e in rm_errs:
                removed = removed | e.isNull()
            matched = F.lit(False)
            for e in kp_errs:
                matched = matched | e.isNull()
            if keeps:
                last = kp_errs[-1]
                msg, et = last["message"], last["error_type"]
            else:
                msg = F.lit("not a valid value")
                et = F.lit("ValueInvalid")
            failing = ~F.coalesce(removed, F.lit(False)) & ~F.coalesce(
                matched, F.lit(False)
            )
            return F.when(
                failing,
                F.struct(
                    F.array(*prefix_lits, i.cast("string")).alias("path"),
                    msg.alias("message"),
                    et.alias("error_type"),
                    truncate_repr(py_repr_col(x, elem_t)).alias("offending"),
                    F.lit(None).cast("string").alias("ctx"),
                ),
            ).otherwise(F.lit(None))

        keep_srcs = [a for a in alternatives if not isinstance(a, Remove)]
        if (isinstance(elem_t, T.ArrayType) and not removes
                and _viable_seq_alts_all_lists(keep_srcs, elem_t)):
            # NESTED sequence schemas ([[...]]): the reference re-raises
            # any error DEEPER than the element index immediately
            # (schema_builder.py:616-620), so the first element whose
            # inner sequence fails aborts the whole validation with the
            # inner errors (paths [i][j]); shallow errors accumulated for
            # earlier elements are discarded. Only the FIRST list
            # alternative is ever reachable for a non-null element (its
            # inner failure aborts before later alternatives are tried).
            arr = F.when(
                col.isNotNull() & (F.size(col) > 0),
                self._seq_viols(alternatives, col, dtype,
                                list(prefix_lits)),
            )
            return out_col, [], [arr]

        arr = F.when(
            col.isNotNull() & (F.size(col) > 0),
            F.filter(
                F.transform(
                    F.sequence(F.lit(0), F.size(col) - 1), per_elem
                ),
                lambda s: s.isNotNull(),
            ),
        )
        return out_col, [], [arr]

    def _seq_viols(self, alternatives: list, col: Column,
                   dtype: T.ArrayType, path_cols: list):
        """Violations array for one ARRAY cell against list alternatives
        with the reference's abort semantics (schema_builder.py:605-631):
        shallow per-element errors (paths ``path + [i]``) accumulate; the
        first element producing DEEPER errors aborts — only its inner
        errors surface. ``path_cols`` are ready string Columns/literals so
        runtime indices nest arbitrarily deep."""
        from .errors import truncate_repr

        elem_t = dtype.elementType
        keep_srcs = [a for a in alternatives if not isinstance(a, Remove)]
        nested = (isinstance(elem_t, T.ArrayType)
                  and _viable_seq_alts_all_lists(keep_srcs, elem_t))
        empty = F.array().cast(_VIOL_ARR_T)

        if nested:
            inner_alts = next(a for a in keep_srcs if isinstance(a, list))

            def per(i):
                x = F.try_element_at(col, (i + 1).cast("int"))
                deep = F.when(
                    x.isNotNull() & (F.size(x) > 0),
                    self._seq_viols(inner_alts, x, elem_t,
                                    path_cols + [i.cast("string")]),
                ).otherwise(empty)
                shallow = F.when(
                    x.isNull(),
                    F.struct(
                        F.array(*path_cols,
                                i.cast("string")).alias("path"),
                        F.lit("expected a list").alias("message"),
                        F.lit("SequenceTypeInvalid").alias("error_type"),
                        F.lit("None").alias("offending"),
                        F.lit(None).cast("string").alias("ctx"),
                    ),
                ).otherwise(F.lit(None))
                return F.struct(deep.alias("deep"), shallow.alias("shallow"))

            z = F.transform(F.sequence(F.lit(0), F.size(col) - 1), per)
            deeps = F.filter(
                F.transform(z, lambda s: s["deep"]),
                lambda a: F.size(a) > 0,
            )
            shallows = F.filter(
                F.transform(z, lambda s: s["shallow"]),
                lambda s: s.isNotNull(),
            ).cast(_VIOL_ARR_T)
            return F.when(
                F.size(deeps) > 0, F.element_at(deeps, 1)
            ).otherwise(shallows)

        removes_c = [compile_validator(a.schema, elem_t)
                     for a in alternatives if isinstance(a, Remove)]
        keeps_c = [compile_validator(a, elem_t) for a in keep_srcs]

        def per_flat(i):
            x = F.try_element_at(col, (i + 1).cast("int"))
            removed = F.lit(False)
            for rc in removes_c:
                removed = removed | rc.err(x).isNull()
            matched = F.lit(False)
            kp_errs = [kc.err(x) for kc in keeps_c]
            for e in kp_errs:
                matched = matched | e.isNull()
            if keeps_c:
                last = kp_errs[-1]
                msg, et = last["message"], last["error_type"]
            else:
                msg = F.lit("not a valid value")
                et = F.lit("ValueInvalid")
            failing = ~F.coalesce(removed, F.lit(False)) & ~F.coalesce(
                matched, F.lit(False))
            return F.when(
                failing,
                F.struct(
                    F.array(*path_cols, i.cast("string")).alias("path"),
                    msg.alias("message"),
                    et.alias("error_type"),
                    truncate_repr(
                        py_repr_col(x, elem_t)).alias("offending"),
                    F.lit(None).cast("string").alias("ctx"),
                ),
            ).otherwise(F.lit(None))

        return F.when(
            F.size(col) > 0,
            F.filter(
                F.transform(F.sequence(F.lit(0), F.size(col) - 1),
                            per_flat),
                lambda s: s.isNotNull(),
            ).cast(_VIOL_ARR_T),
        ).otherwise(empty)

    def _validate_dict_elements(self, schema_dict: dict, col: Column,
                                dtype: T.ArrayType,
                                prefix: tuple[str, ...]):
        """Sequence of mapping schemas (``{'x': [{...}]}``, reference
        _compile_sequence recursing into _compile_mapping,
        schema_builder.py:578-631): every element validates against the
        dict schema; errors carry ``data[prefix][index][...]`` paths with
        the runtime index as a path component. All expression-level — no
        shuffle, no Python; per-element struct validation runs inside one
        ``F.transform`` over the index range.

        Returns (out_col, single_errs, err_arrays)."""
        elem_t = dtype.elementType
        sub = Schema(schema_dict, required=self.required, extra=self.extra)

        out_col = F.when(
            col.isNotNull(),
            F.transform(
                col,
                lambda x: sub._validate_struct(x, elem_t, prefix)[0],
            ),
        )

        def per_elem(i):
            x = F.try_element_at(col, (i + 1).cast("int"))
            nested: list[Column] = []
            _, errs = sub._validate_struct(
                x, elem_t, prefix + (i.cast("string"),), arrays=nested
            )
            parts = []
            if errs:
                parts.append(F.filter(
                    F.array(*errs).cast(_VIOL_ARR_T),
                    lambda s: s.isNotNull(),
                ))
            for arr in nested:
                parts.append(F.coalesce(arr.cast(_VIOL_ARR_T),
                                        F.array().cast(_VIOL_ARR_T)))
            if not parts:
                return F.array().cast(_VIOL_ARR_T)
            return F.concat(*parts) if len(parts) > 1 else parts[0]

        arr = F.when(
            col.isNotNull() & (F.size(col) > 0),
            F.flatten(F.transform(
                F.sequence(F.lit(0), F.size(col) - 1), per_elem
            )),
        )
        return out_col, [], [arr]

    def _validate_struct(self, col: Column, dtype: T.StructType,
                         prefix: tuple[str, ...], as_object: bool = False,
                         root: dict | None = None,
                         msg_override: tuple[str, str] | None = None,
                         arrays: list | None = None,
                         entries_out: list | None = None,
                         rebase: int = 0):
        """Validate a StructType column field-by-field; returns
        (output struct column, error entries with nested paths).
        ``as_object``: Object schema (schema_builder.py:413-441) — same
        mapping behavior, ObjectInvalid type gate. ``root``: the top-level
        schema dict that ``Self`` re-enters.

        ``msg_override``: (msg, error_type) from a wrapping ``Msg``. The
        reference's Msg is ONE try/except around the whole inner Schema
        call (schema_builder.py:942-949): if the FIRST raised error has
        path depth <=1 relative to the Msg, the ENTIRE error set collapses
        to Invalid(msg); otherwise everything — shallow errors included —
        passes through unchanged. Error order approximates the reference's
        data-key iteration: schema-key order, with missing-required
        appended last (schema_builder.py:399-405) and element-level error
        arrays treated as always-deep.

        ``entries_out``: internal — collects (violation, abs path len)
        pairs so a wrapping Msg one level up can order/depth-classify
        errors from this recursion.

        ``rebase``: length of the path prefix belonging to scopes OUTSIDE
        the nearest Schema re-entry. A Msg-wrapped dict value compiles a
        fresh ``Schema(schema)`` in the reference (schema_builder.py:937),
        so validators whose messages embed rendered paths (SomeOf) freeze
        paths RELATIVE to that re-entry, and their raised empty-path error
        is prepended only up to the boundary key (validate_callable,
        schema_builder.py:807-809)."""
        root = root if root is not None else self.schema
        # entry = (violation | None, abs path len, cond | None): a None
        # violation is an ORDER-ONLY marker (e.g. a multi-error array's
        # position) participating in the Msg first-error computation but
        # emitted through the array channel
        entries: list[tuple] = []
        late: list[tuple] = []
        arr_start = len(arrays) if arrays is not None else 0

        def emit(path, message, et, off, cond, ctx=None, late_=False):
            v = _violation(path, message, et, off, cond, ctx=ctx)
            (late if late_ else entries).append((v, len(path), None))

        def finish(out_col):
            all_e = entries + late
            if msg_override is not None and (
                all_e or (arrays is not None and len(arrays) > arr_start)
            ):
                S = F.lit(False)
                not_prev = F.lit(True)
                for v, plen, cond in all_e:
                    c = (F.coalesce(cond, F.lit(False)) if cond is not None
                         else F.coalesce(v.isNotNull(), F.lit(False)))
                    if plen - len(prefix) <= 1:
                        S = S | (not_prev & c)
                    not_prev = not_prev & ~c
                # the enclosing mapping stamps the Msg-raised Invalid with
                # the 'dictionary value' context (schema_builder.py:369-371)
                collapsed = _violation(
                    prefix, F.lit(msg_override[0]), msg_override[1],
                    F.lit("None"), S, ctx="dictionary value",
                )
                # the collapsed error sits AT the Msg'd key's own path, so
                # an enclosing Msg one level up classifies it as shallow
                all_e = [(collapsed, len(prefix), None)] + [
                    (F.when(~S, v) if v is not None else None, plen, cond)
                    for v, plen, cond in all_e
                ]
                if arrays is not None:
                    for i in range(arr_start, len(arrays)):
                        arrays[i] = F.when(~S, arrays[i])
            if entries_out is not None:
                # keep ORDER-ONLY (None-violation) markers: a parent Msg
                # needs deep array errors to participate in ITS ordering
                entries_out.extend(all_e)
            return out_col, [v for v, _, _ in all_e if v is not None]

        if not isinstance(dtype, T.StructType):
            # raised AT the key's own path: when there IS an enclosing
            # mapping (non-empty prefix) it stamps the 'dictionary value'
            # context (schema_builder.py:368-371); at the root there is
            # no enclosing mapping and the error renders bare
            gate_ctx = "dictionary value" if prefix else None
            if as_object:
                cls = getattr(self.schema, "cls", dsl.UNDEFINED)
                m = (f"expected a {cls!r}" if cls is not dsl.UNDEFINED
                     else "expected an object")
                emit(prefix, F.lit(m), "ObjectInvalid",
                     F.lit("None"), col.isNotNull(), ctx=gate_ctx)
                return finish(col)
            emit(prefix, F.lit("expected a dictionary"),
                 "DictInvalid", F.lit("None"), col.isNotNull(),
                 ctx=gate_ctx)
            return finish(col)
        by_name = {f.name: f.dataType for f in dtype.fields}
        outs: list[Column] = []
        declared = set()
        # wildcard keys ({str: v}, {Match('^x'): v}, {Extra: v}) in a
        # NESTED dict schema resolve against the struct's static field
        # names, mirroring _bind_fields' top-level pass: literal keys
        # claim theirs first, then wildcards in reference candidate
        # priority; matched fields bind as non-required literal keys
        items = [(k, v) for k, v in self.schema.items()
                 if isinstance(_key_name(k), str)]
        wilds = [(k, v) for k, v in self.schema.items()
                 if not isinstance(_key_name(k), str)]
        wild_key_errs: dict[str, tuple] = {}
        if wilds:
            def _wprio(kv):
                k = kv[0]
                if k is dsl.Extra or isinstance(k, dsl.Extra):
                    return 5
                if isinstance(k, Remove):
                    return 1
                if isinstance(k, Marker):
                    return 2
                if isinstance(k, type):
                    return 4
                return 3

            wilds.sort(key=_wprio)
            lit_names = {_key_name(k) for k, _ in items}
            matched_wilds: set[int] = set()
            for fname in dtype.fieldNames():
                if fname in lit_names:
                    continue
                key_err = None
                for k, v_ in wilds:
                    res = self._key_eval(_key_name(k), fname)
                    if res[0] == "err":
                        if key_err is None:
                            key_err = res[1]
                        continue
                    items.append((
                        Remove(fname) if isinstance(k, Remove)
                        else Optional(fname, msg=getattr(k, "msg", None)),
                        v_,
                    ))
                    matched_wilds.add(id(k))
                    break
                else:
                    if key_err is not None:
                        # the key error is surfaced instead of 'extra keys
                        # not allowed' under PREVENT
                        # (schema_builder.py:392-396)
                        wild_key_errs[fname] = key_err
            # a REQUIRED wildcard that claimed no field stays in the
            # reference's required_keys and errors with the key SCHEMA as
            # the final path component ('required key not provided @
            # data[...][<class 'str'>]', schema_builder.py:398-405)
            for k, _v in wilds:
                if id(k) in matched_wilds:
                    continue
                if (k is dsl.Extra
                        or isinstance(k, (dsl.Extra, Remove, Optional))):
                    continue
                if not (self.required or isinstance(k, Required)):
                    continue
                inner = k.schema if isinstance(k, Marker) else k
                comp = repr(inner) if isinstance(inner, type) else str(inner)
                emit(prefix + (comp,),
                     F.lit(getattr(k, "msg", None)
                           or "required key not provided"),
                     "RequiredFieldInvalid", F.lit("None"),
                     col.isNotNull(), late_=True)
        for key, val in items:
            name = _key_name(key)
            declared.add(name)
            required = (self.required or isinstance(key, Required)) and \
                not isinstance(key, (Optional, Remove))
            default = getattr(key, "default", UNDEFINED)
            marker_msg = getattr(key, "msg", None)
            sub_t = by_name.get(name)
            path = prefix + (name,)
            if sub_t is None:
                if required and default is UNDEFINED:
                    emit(path,
                         F.lit(marker_msg or "required key not provided"),
                         "RequiredFieldInvalid", F.lit("None"),
                         col.isNotNull(), late_=True)
                continue
            sub_col = col[name]
            val = root if val is dsl.Self else val
            if isinstance(key, Remove):
                # nested Remove: same per-row fall-through as the root
                # field loop — removed (null) when the value passes,
                # extra policy when it fails
                if (
                    self.extra == REMOVE_EXTRA
                    or _value_statically_passes(val, sub_t)
                ):
                    continue  # static drop from the output struct
                fails = self._value_fail_cond(val, sub_col, sub_t, path)
                outs.append(
                    F.when(fails, sub_col)
                    .otherwise(F.lit(None).cast(sub_t))
                    .alias(name)
                )
                if self.extra == PREVENT_EXTRA:
                    emit(path, F.lit("extra keys not allowed"), "Invalid",
                         py_repr_col(sub_col, sub_t),
                         fails & col.isNotNull())
                continue
            sub_msg_override = None
            if isinstance(val, dsl.Msg) and isinstance(val.schema, dict):
                # Msg over a mapping schema nested BELOW the top level:
                # same depth<=1 override rule as the root field loop
                # (schema_builder.py:942-949)
                et = val.cls if isinstance(val.cls, str) else (
                    val.cls.__name__ if val.cls else "Invalid")
                sub_msg_override = (val.msg, et)
                val = val.schema
            seq_msg_override = None
            if (isinstance(val, dsl.Msg) and isinstance(val.schema, list)
                    and isinstance(sub_t, T.ArrayType)):
                # Msg over a list schema: depth<=1 rule decided per row
                # from the element errors' runtime paths
                et = val.cls if isinstance(val.cls, str) else (
                    val.cls.__name__ if val.cls else "Invalid")
                seq_msg_override = (val.msg, et)
                val = val.schema
            val = _maybe_expand(val, sub_t, self.extra)
            sub_is_reentry = sub_msg_override is not None
            sub0 = None
            if isinstance(val, Schema) and isinstance(val.schema, dict):
                # Schema instance as a nested dict value: re-entry with
                # the sub-schema's own flags (see root field loop)
                sub_is_reentry = True
                sub0, val = val, val.schema
            if isinstance(val, dict):
                sub_schema = sub0 or Schema(
                    val, required=self.required, extra=self.extra)
                if isinstance(sub_t, T.MapType):
                    # nested dynamic-key map inside a struct
                    o, sub_singles, sub_arrs = sub_schema._validate_map(
                        sub_col, sub_t, path
                    )
                    outs.append(o.alias(name))
                    if sub_msg_override is not None:
                        # Msg over a nested dynamic-key map: depth<=1
                        # rule per row from the runtime entry paths
                        sub_singles, sub_arrs = _msg_collapse_seq(
                            sub_msg_override, path, sub_singles, sub_arrs
                        )
                    # map-level gate errors sit at the key path (shallow);
                    # per-entry errors ride the array channel (deep) —
                    # with an ORDER-ONLY marker so a wrapping Msg's
                    # first-error computation sees them at this position
                    entries.extend((v, len(path), None) for v in sub_singles)
                    if arrays is not None:
                        for a in sub_arrs:
                            arrays.append(a)
                            entries.append((
                                None, len(path) + 1,
                                F.coalesce(F.size(a) > 0, F.lit(False)),
                            ))
                    continue
                if not isinstance(sub_t, T.StructType):
                    # the sub-gate error is depth 1 relative to a wrapping
                    # Msg -> own-level (overridable); it is raised AT the
                    # key's own path, so the enclosing mapping stamps the
                    # 'dictionary value' context (schema_builder.py:368-371)
                    g_msg, g_et = (
                        sub_msg_override
                        if sub_msg_override is not None
                        else ("expected a dictionary", "DictInvalid")
                    )
                    emit(path, F.lit(g_msg), g_et,
                         F.lit("None"), col.isNotNull() & sub_col.isNotNull(),
                         ctx="dictionary value")
                    outs.append(sub_col.alias(name))
                    continue
                child_entries: list = []
                from_maybe = bool(getattr(sub0, "_from_maybe", False))
                sub_arr_sink = (
                    [] if (from_maybe and arrays is not None) else arrays
                )
                o, _ = sub_schema._validate_struct(
                    sub_col, sub_t, path,
                    as_object=isinstance(val, dsl.Object),
                    root=val if sub0 is not None else root,
                    msg_override=sub_msg_override,
                    arrays=sub_arr_sink,
                    entries_out=child_entries,
                    rebase=len(path) if sub_is_reentry else rebase,
                )
                outs.append(o.alias(name))
                if from_maybe:
                    # Any(None, {...}) shallow-vs-deep selection over the
                    # re-entry's collected error channels (fuzz seed 7880)
                    singles = [e for e in child_entries if e[0] is not None]
                    markers = [e for e in child_entries if e[0] is None]
                    child_arrs = sub_arr_sink if arrays is not None else []
                    new_singles, new_arrs, any_deep = _maybe_none_collapse(
                        path, [e[0] for e in singles], child_arrs,
                        sub_col, sub_t,
                    )
                    lens = [e[1] for e in singles] + [len(path)]
                    entries.extend(
                        (v2, l, None) for v2, l in zip(new_singles, lens)
                    )
                    if arrays is not None:
                        arrays.extend(new_arrs)
                    for _, l, c in markers:
                        entries.append((None, l, c & any_deep))
                    continue
                entries.extend(child_entries)
                continue
            if isinstance(val, (list, tuple)) and isinstance(sub_t, T.ArrayType):
                o, seq_singles, seq_arrs = self._validate_sequence(
                    val, sub_col, sub_t, path
                )
                if seq_msg_override is not None:
                    seq_singles, seq_arrs = _msg_collapse_seq(
                        seq_msg_override, path, seq_singles, seq_arrs
                    )
                outs.append(o.alias(name))
                # sequence own-level errors (type/shape gates) sit at the
                # key path — shallow relative to a wrapping Msg; element
                # errors ride the array channel (deep) with an ORDER-ONLY
                # marker so the Msg first-error computation sees them at
                # this schema-key position (fuzz seed 2325)
                entries.extend((v, len(path), None) for v in seq_singles)
                if arrays is not None:
                    for a in seq_arrs:
                        arrays.append(a)
                        entries.append((
                            None, len(path) + 1,
                            F.coalesce(F.size(a) > 0, F.lit(False)),
                        ))
                continue
            val_u = _unwrap_marker(val)
            if (
                isinstance(val_u, dsl.Any)
                and not isinstance(val_u, dsl.Maybe)
                and any(
                    isinstance(b, dict) or b is dsl.Self
                    or b is dsl._SelfSentinel
                    or isinstance(b, dsl._SelfSentinel)
                    or (isinstance(b, (list, tuple)) and bool(b)
                        and isinstance(sub_t, T.ArrayType))
                    for b in val_u.validators
                )
            ) or (
                isinstance(val_u, dsl.All)
                and any(
                    isinstance(b, dict) or isinstance(b, Schema)
                    or b is dsl.Self or b is dsl._SelfSentinel
                    or isinstance(b, dsl._SelfSentinel)
                    for b in val_u.validators
                )
            ):
                # combinator-over-mapping as a NESTED field value — same
                # routing as the root field loop: Any/Union surfaces the
                # deepest-error branch, All the first failing stage.
                # Identity output (branch transforms cannot merge into one
                # statically-typed column — same documented divergence)
                if isinstance(val_u, dsl.Any):
                    arr = self._any_dict_branches(val_u, sub_col, sub_t,
                                                  path)
                else:
                    arr = self._all_dict_stages(val_u, sub_col, sub_t,
                                                path)
                outs.append(sub_col.alias(name))
                if required:
                    emit(path,
                         F.lit(marker_msg or "required key not provided"),
                         "RequiredFieldInvalid", F.lit("None"),
                         col.isNotNull() & sub_col.isNull(), late_=True)
                if arrays is not None:
                    arrays.append(arr)
                    nonempty = F.coalesce(F.size(arr) > 0, F.lit(False))
                    first_plen = F.size(F.element_at(arr, 1)["path"])
                    # per-row depth classification for a wrapping Msg:
                    # the combinator-level error (AnyInvalid / stage
                    # gate) sits AT the key path (shallow); branch-inner
                    # errors sit deeper
                    entries.append((
                        None, len(path),
                        nonempty & F.coalesce(first_plen <= len(path),
                                              F.lit(False)),
                    ))
                    entries.append((
                        None, len(path) + 1,
                        nonempty & F.coalesce(first_plen > len(path),
                                              F.lit(False)),
                    ))
                continue
            check = compile_validator(val_u, sub_t,
                                      path=path[rebase:])
            _dlit = (_default_lit(default, sub_t)
                     if default is not UNDEFINED else None)
            base = (F.coalesce(sub_col, _dlit)
                    if _dlit is not None else sub_col)
            present = base.isNotNull()
            if required:
                # missing-required errors append AFTER value errors in the
                # reference (schema_builder.py:399-405) — late for Msg order
                emit(path,
                     F.lit(marker_msg or "required key not provided"),
                     "RequiredFieldInvalid", F.lit("None"),
                     col.isNotNull() & ~present, late_=True)
            if check.multi is not None and arrays is not None:
                # multi-error channel (e.g. Unordered): one violation per
                # accumulated entry at this field's path
                from .errors import truncate_repr

                m = check.multi(base)
                path_lits = _path_lits(path)
                ctx_s = "object value" if as_object else "dictionary value"
                m_cond = col.isNotNull() & present & m.isNotNull()
                arrays.append(F.when(
                    m_cond,
                    F.transform(m, lambda s: F.struct(
                        F.array(*path_lits).alias("path"),
                        s["message"].alias("message"),
                        s["error_type"].alias("error_type"),
                        truncate_repr(py_repr_col(base, sub_t))
                        .alias("offending"),
                        F.lit(ctx_s).alias("ctx"),
                    )),
                ))
                if msg_override is not None:
                    # order-only marker: the multi errors sit at the key
                    # path (shallow) in the Msg first-error computation;
                    # the array itself gets the blanket ~S wrap in finish
                    entries.append((
                        None, len(path),
                        m_cond & (F.coalesce(F.size(m), F.lit(0)) > 0),
                    ))
                outs.append(check.out(base).alias(name))
                continue
            e = check.err(base)
            emit(path[:rebase] if check.drop_path else path,
                 e["message"], e["error_type"],
                 py_repr_col(base, sub_t),
                 col.isNotNull() & present & e.isNotNull(),
                 ctx="object value" if as_object else "dictionary value")
            outs.append(check.out(base).alias(name))
        # extra fields in the struct
        for fname, ft in by_name.items():
            if fname in declared:
                continue
            if self.extra == PREVENT_EXTRA:
                if fname in wild_key_errs:
                    k_msg, k_et = wild_key_errs[fname]
                    emit(prefix + (fname,), F.lit(k_msg), k_et,
                         F.lit("None"),
                         col.isNotNull() & col[fname].isNotNull())
                else:
                    emit(prefix + (fname,),
                         F.lit("extra keys not allowed"), "Invalid",
                         py_repr_col(col[fname], ft),
                         col.isNotNull() & col[fname].isNotNull())
            elif self.extra == ALLOW_EXTRA:
                outs.append(col[fname].alias(fname))
        # Exclusive/Inclusive groups in a NESTED dict (the reference's
        # _compile_dict runs group checks at EVERY mapping level,
        # schema_builder.py:530-571): a firing group error raises before
        # mapping validation, so it suppresses every other error of this
        # level — exclusive first (all failing groups), else the FIRST
        # failing inclusion group
        n_ex_groups: dict[str, list] = {}
        n_in_groups: dict[str, list] = {}
        for k, _ in items:
            if isinstance(k, dsl.Exclusive):
                n_ex_groups.setdefault(k.group_of_exclusion, []).append(k)
            elif isinstance(k, dsl.Inclusive):
                n_in_groups.setdefault(k.group_of_inclusion, []).append(k)
        if n_ex_groups or n_in_groups:
            def _cnt(grp):
                return sum(
                    (
                        (col.isNotNull()
                         & col[_key_name(k)].isNotNull()).cast("int")
                        if _key_name(k) in by_name else F.lit(0)
                        for k in grp
                    ),
                    F.lit(0),
                )

            def _present(k):
                name = _key_name(k)
                if name not in by_name:
                    return F.lit(False)
                return col.isNotNull() & col[name].isNotNull()

            grp_entries: list[tuple] = []
            excl_any = F.lit(False)
            for label, grp in n_ex_groups.items():
                cond = _cnt(grp) > 1
                msg = _excl_trigger_msg(grp, label, _present)
                grp_entries.append((_violation(
                    prefix + (f"<{label}>",), msg,
                    "ExclusiveInvalid", F.lit("None"), cond,
                ), len(prefix) + 1, None))
                excl_any = excl_any | cond
            not_prev = F.lit(True)
            incl_any = F.lit(False)
            for label, grp in n_in_groups.items():
                c = _cnt(grp)
                cond = (c > 0) & (c < len(grp))
                incl_any = incl_any | cond
                msg = next((k.msg for k in grp if k.msg), None) or (
                    "some but not all values in the same group of "
                    f"inclusion '{label}'"
                )
                grp_entries.append((_violation(
                    prefix + (f"<{label}>",), F.lit(msg),
                    "InclusiveInvalid", F.lit("None"),
                    ~excl_any & not_prev & cond,
                ), len(prefix) + 1, None))
                not_prev = not_prev & ~cond
            grp_fired = excl_any | incl_any
            entries[:] = [
                (F.when(~grp_fired, v) if v is not None else None, plen,
                 (c & ~grp_fired) if c is not None else None)
                for v, plen, c in entries
            ]
            late[:] = [
                (F.when(~grp_fired, v) if v is not None else None, plen,
                 (c & ~grp_fired) if c is not None else None)
                for v, plen, c in late
            ]
            if arrays is not None:
                for i in range(arr_start, len(arrays)):
                    arrays[i] = F.when(~grp_fired, arrays[i])
            entries[:0] = grp_entries
        out_struct = F.when(col.isNotNull(), F.struct(*outs)) if outs else col
        return finish(out_struct)


_PY_TO_SPARK = {
    bool: T.BooleanType(), int: T.LongType(), float: T.DoubleType(),
    str: T.StringType(), bytes: T.BinaryType(),
}


def _java_double_str(x: float) -> str:
    """Java ``Double.toString`` rendering — what Spark's double->string
    cast emits into violation-row paths. Decimal form on
    [1e-3, 1e7), shortest-round-trip mantissa ``E`` exponent outside it;
    Python ``str()`` differs (thresholds 1e16/1e-4 and 'e+07' style),
    so path comparison must not use it for floats."""
    import math
    from decimal import Decimal

    if x != x:
        return "NaN"
    if x == float("inf"):
        return "Infinity"
    if x == float("-inf"):
        return "-Infinity"
    sign = "-" if math.copysign(1.0, x) < 0 else ""
    a = abs(x)
    if a == 0.0:
        return sign + "0.0"
    _s, dt, dexp = Decimal(repr(a)).as_tuple()
    digits = "".join(map(str, dt))
    stripped = len(digits) - len(digits.rstrip("0"))
    if stripped and len(digits) > stripped:
        digits = digits[:-stripped]
        dexp += stripped
    pow10 = len(digits) + dexp - 1  # value = d.ddd * 10^pow10
    if -3 <= pow10 < 7:
        if pow10 >= 0:
            ip = digits[: pow10 + 1].ljust(pow10 + 1, "0")
            fp = digits[pow10 + 1:] or "0"
            return f"{sign}{ip}.{fp}"
        return sign + "0." + "0" * (-pow10 - 1) + digits
    mant_frac = digits[1:] or "0"
    return f"{sign}{digits[0]}.{mant_frac}E{pow10}"


def _has_type_content(x) -> bool:
    """True when ``x`` determines a concrete leaf type: a non-null
    scalar, or a container with at least one such leaf anywhere below."""
    if x is None:
        return False
    if isinstance(x, dict):
        return any(_has_type_content(v) for v in x.values())
    if isinstance(x, (list, tuple, set, frozenset)):
        return any(_has_type_content(v) for v in x)
    return True


def _infer_spark_type(value, hint=None) -> T.DataType:
    """Spark type for one document cell: data-driven, falling back to the
    schema DSL hint (a Python type or a literal) for None/missing."""
    if isinstance(value, bool):
        return T.BooleanType()
    if isinstance(value, int):
        return T.LongType()
    if isinstance(value, float):
        return T.DoubleType()
    if isinstance(value, str):
        return T.StringType()
    if isinstance(value, (bytes, bytearray)):
        return T.BinaryType()
    if isinstance(value, dict):
        sub_hints = hint if isinstance(hint, dict) else {}
        return T.StructType(
            [
                T.StructField(
                    str(k),
                    _infer_spark_type(
                        v,
                        next(
                            (sv for sk, sv in sub_hints.items()
                             if _key_name(sk) == k),
                            None,
                        ),
                    ),
                    True,
                )
                for k, v in value.items()
            ]
        )
    if isinstance(value, (list, tuple, set, frozenset)):
        items = list(value)
        elem_hint = hint[0] if isinstance(hint, list) and hint else None
        # prefer an element that carries type information all the way
        # down: [[], [-5, 50]] must infer array<array<bigint>> — taking
        # the FIRST non-null element ([]) would collapse the inner type
        # to the string fallback, silently string-casting every value
        # (and letting int validators pass on the casted copies)
        elem = next(
            (x for x in items if _has_type_content(x)),
            next((x for x in items if x is not None), None),
        )
        return T.ArrayType(_infer_spark_type(elem, elem_hint), True)
    # None: fall back to the DSL hint
    if isinstance(hint, type) and hint in _PY_TO_SPARK:
        return _PY_TO_SPARK[hint]
    if isinstance(hint, dict):
        return _infer_spark_type({k: None for k in hint}, hint)
    if hint is not None and not callable(hint) and not isinstance(hint, dict):
        t = _PY_TO_SPARK.get(type(hint))
        if t is not None:
            return t
    return T.StringType()


def _strip_removed(out: dict, schema_dict: dict) -> None:
    """Single-document unwrap: delete null-valued Remove keys (null =
    removed per-row; a kept fall-through value is non-null by
    construction), recursing into nested dict schemas."""
    for k, v in schema_dict.items():
        n = _key_name(k)
        if isinstance(k, Remove):
            if n in out and out[n] is None:
                del out[n]
            continue
        if isinstance(v, dsl.Msg) and isinstance(v.schema, dict):
            v = v.schema
        if isinstance(v, dict) and isinstance(out.get(n), dict):
            _strip_removed(out[n], v)


def _value_statically_passes(v, dtype) -> bool:
    """True when the value schema provably ACCEPTS every non-null cell of
    a column with static type ``dtype`` — a type schema matching the
    column type. Remove keys with such values drop the column statically
    (the reference removes on every row, so no row can fall through to
    the extra policy)."""
    v = _unwrap_marker(v)
    return isinstance(v, type) and dtype is not None and dsl._pytype_matches(
        v, dtype
    )


def _reinstate_set_gates(schema, data):
    """Reference ``_compile_set`` type-gates the VALUE's container class
    (schema_builder.py:672-678): a ``set`` schema only accepts ``set``
    instances, ``frozenset`` only ``frozenset`` — a list fails with
    'expected a set'. The one-row carrier converts every iterable to an
    array column, erasing that distinction, so the single-document path
    pre-walks (schema, data) and rewrites mismatched positions into a
    ``ConstantFail`` carrying the reference's message. Returns the
    rewritten schema, or None when nothing matched (the common case —
    zero overhead for schemas without set nodes)."""
    changed = False

    def walk(s, d):
        nonlocal changed
        if isinstance(s, (set, frozenset)):
            if d is not None and not isinstance(d, type(s)):
                changed = True
                return dsl.ConstantFail(
                    "expected a %s" % type(s).__name__
                )
            return s
        if isinstance(s, dsl.Msg):
            inner = walk(s.schema, d)
            return s if inner is s.schema else dsl.Msg(inner, s.msg, s.cls)
        if isinstance(s, Schema):
            # Schema instances as dict values re-enter with their own
            # flags — the walk must reach their set nodes too (fuzz seed
            # 8341: {'n0': frozenset({str})} nested in a Schema value)
            inner = walk(s.schema, d)
            return s if inner is s.schema else type(s)(
                inner, required=s.required, extra=s.extra
            )
        if isinstance(s, dsl.Maybe):
            # Maybe({... frozenset ...}) — the single surviving branch's
            # set nodes still gate container classes (fuzz seed 9407)
            inner = walk(s._inner, d)
            return s if inner is s._inner else dsl.Maybe(inner, msg=s.msg)
        if isinstance(s, dict) and isinstance(d, dict):
            return {
                k: (walk(v, d.get(_key_name(k)))
                    if isinstance(_key_name(k), str) else v)
                for k, v in s.items()
            }
        return s

    new = walk(schema, data)
    return new if changed else None


def _iterate_object_attrs(obj):
    """Attribute pairs of an arbitrary instance (reference
    ``_iterate_object``, schema_builder.py:874-895): ``vars`` first,
    namedtuple ``_asdict`` on TypeError, then own ``__slots__`` entries
    (minus ``__dict__``)."""
    d = {}
    try:
        d = dict(vars(obj))
    except TypeError:
        if hasattr(obj, "_asdict"):
            d = dict(obj._asdict())
    for item in d.items():
        yield item
    try:
        slots = obj.__slots__
    except AttributeError:
        return
    for key in slots:
        if key != "__dict__":
            yield (key, getattr(obj, key))


_MISSING_NODE = object()


def _type_sig(x):
    """Recursive static-type signature of a document value: two elements
    with different signatures cannot share one Spark column type."""
    if x is None:
        return None
    if isinstance(x, bool):
        return "bool"
    if isinstance(x, dict):
        return ("dict", tuple(sorted(
            (str(k), _type_sig(v)) for k, v in x.items())))
    if isinstance(x, (list, tuple, set, frozenset)):
        return ("seq", tuple(sorted(
            {repr(_type_sig(e)) for e in x})))
    return type(x).__name__


def _is_mixed_seq(data) -> bool:
    """True when a sequence's elements have no single Spark element type
    (mixed scalars, differing struct shapes, heterogeneous sub-lists) —
    the cases a typed ArrayType column cannot carry."""
    sigs = {_type_sig(x) for x in data if x is not None}
    return len(sigs) > 1


def _driver_validate_sequence(alternatives, data, spark,
                              required=False, extra=PREVENT_EXTRA):
    """Reference ``_compile_sequence`` (schema_builder.py:578-632)
    replicated driver-side over per-element engine rides, for sequences a
    typed ArrayType column cannot carry (mixed element types). Each
    element is tried against the alternatives in order (``Remove``
    matches drop the element); an error DEEPER than the element index
    aborts immediately (schema_builder.py:620-623); otherwise the LAST
    alternative's error is kept per failing element. Returns the
    transformed element list."""
    from . import exceptions as er

    out = []
    errors = []
    for i, value in enumerate(data):
        invalid = None
        matched = False
        for alt in alternatives:
            if alt is dsl.Extra or isinstance(alt, dsl.Extra):
                # Extra as a sequence alternative is the identity
                # catch-all (reference _compile, schema_builder.py:213)
                matched = True
                out.append(value)
                break
            remove = isinstance(alt, dsl.Remove)
            node = alt.schema if remove else alt
            try:
                cval = Schema(node, required=required, extra=extra)(
                    value, spark)
            except er.MultipleInvalid as e:
                first = e.errors[0]
                if first.path:  # deep error aborts the whole sequence
                    for sub in e.errors:
                        sub.prepend([i])
                    raise er.MultipleInvalid(list(e.errors)) from None
                invalid = first
                continue
            except er.Invalid as e:
                if e.path:
                    e.prepend([i])
                    raise er.MultipleInvalid([e]) from None
                invalid = e
                continue
            matched = True
            if not remove:
                out.append(cval)
            break
        if not matched:
            if invalid is None:
                invalid = er.ValueInvalid("not a valid value")
            invalid.prepend([i])
            errors.append(invalid)
    if errors:
        raise er.MultipleInvalid(errors)
    return out


def _mixed_seq_verdict(node, v, required=False, extra=PREVENT_EXTRA):
    """Driver verdict for a MIXED-type sequence value against a schema
    node (the ArrayType compiler cannot carry it). Returns
    ``('accept', out)``, ``('error', [Invalid])`` with element-relative
    paths, or None (unknown — the documented static-typing divergence
    keeps applying)."""
    from . import exceptions as er

    spark = None  # engine rides fetch the active session themselves
    while isinstance(node, Schema):
        required, extra = node.required, node.extra
        node = node.schema
    if isinstance(node, (list, tuple)):
        seq_cls = list if isinstance(node, list) else tuple
        if not isinstance(v, seq_cls):
            return ("error", [er.SequenceTypeInvalid(
                "expected a %s" % seq_cls.__name__)])
        if not node:
            return ("error", [er.ValueInvalid("not a valid value")])
        try:
            out = _driver_validate_sequence(
                list(node), v, spark, required=required, extra=extra)
        except er.MultipleInvalid as e:
            return ("error", list(e.errors))
        if hasattr(v, "_fields"):  # namedtuple reconstruction
            return ("accept", type(v)(*out))
        return ("accept", type(v)(out))
    if isinstance(node, dsl.ExactSequence):
        vals = list(node.validators)
        if not isinstance(v, (list, tuple)) or len(v) != len(vals):
            return ("error", [er.ExactSequenceInvalid(node.msg)])
        out = []
        for x, sub in zip(v, vals):
            try:
                out.append(Schema(sub, required=required, extra=extra)(
                    x, spark))
            except er.MultipleInvalid as e:
                if node.msg is not None:
                    return ("error", [er.ExactSequenceInvalid(node.msg)])
                return ("error", list(e.errors))
        return ("accept", type(v)(out))
    if isinstance(node, dsl.Unordered):
        vals = list(node.validators)
        if not isinstance(v, (list, tuple)):
            return ("error", [er.Invalid(
                node.msg or "Value %s is not sequence!" % (v,))])
        if len(v) != len(vals):
            return ("error", [er.Invalid(
                node.msg or "List lengths differ, value:%s != target:%s"
                % (len(v), len(vals)))])
        consumed = set()
        missing = []
        for index, value in enumerate(v):
            found = False
            for i, sub in enumerate(vals):
                if i in consumed:
                    continue
                try:
                    Schema(sub, required=required, extra=extra)(value, spark)
                except er.Invalid:
                    continue
                found = True
                consumed.add(i)
                break
            if not found:
                missing.append((index, value))
        if missing:
            return ("error", [er.Invalid(
                node.msg
                or "Element #%s (%s) is not valid against any validator"
                % (el[0], el[1])) for el in missing])
        return ("accept", v)
    if isinstance(node, (set, frozenset)):
        type_ = type(node)
        if not isinstance(v, type_):
            return ("error", [er.Invalid(
                "expected a %s" % type_.__name__)])
        errors = []
        for value in v:
            ok = False
            for sub in node:
                try:
                    Schema(sub, required=required, extra=extra)(value, spark)
                    ok = True
                    break
                except er.Invalid:
                    continue
            if not ok:
                errors.append(er.Invalid(
                    "invalid value in %s" % type_.__name__))
        if errors:
            return ("error", errors)
        return ("accept", v)
    return None


def _driver_match_key(skey, key, spark):
    """Replicate the reference's compiled KEY schema driver-side
    (schema_builder.py:338-346): returns ``(matched, new_key,
    key_error)``. Literal keys compare by equality, type keys by
    isinstance, ``Any`` keys by any branch, callables/validators may
    TRANSFORM the key. A rejecting callable/validator key returns ITS
    OWN Invalid as ``key_error`` — the reference surfaces that error
    verbatim ('expecting a number @ data[...]', tests.py:1732-1751).
    The error travels in the RETURN VALUE, not a function attribute: a
    mutable side channel survives generic-exception branches of nested
    calls and misattributes stale inner errors to the outer candidate."""
    if isinstance(skey, dsl.Marker):
        return _driver_match_key(skey.schema, key, spark)
    if isinstance(skey, dsl.Any):
        last = None
        for b in skey.validators:
            m, nk, err = _driver_match_key(b, key, spark)
            if m:
                return True, nk, None
            last = err
        return False, None, last
    if isinstance(skey, type):
        return isinstance(key, skey), key, None
    if isinstance(skey, (str, bytes, bool, int, float, tuple, frozenset)):
        try:
            eq = bool(skey == key)
        except Exception:
            eq = False
        return eq, key, None
    if isinstance(skey, dsl.Validator):
        from . import exceptions as er

        try:
            return True, Schema(skey)(key, spark), None
        except er.MultipleInvalid as e:
            return False, None, (e.errors[0] if e.errors else None)
        except Exception:
            return False, None, None
    if callable(skey):
        from . import exceptions as er

        try:
            return True, skey(key), None
        except er.Invalid as e:
            return False, None, e
        except Exception:
            return False, None, None
    try:
        return bool(skey == key), key, None
    except Exception:
        return False, None, None


def _key_prio(skey):
    """Reference candidate priority (schema_builder.py:844-871): literal
    values first, then Remove, markers, callables, types, Extra last."""
    if skey is dsl.Extra or isinstance(skey, dsl.Extra):
        return 5
    if isinstance(skey, dsl.Remove):
        return 1
    if isinstance(skey, dsl.Marker):
        return 2
    if isinstance(skey, type):
        return 4
    if callable(skey):
        return 3
    return 0


class _DriverMappingMixin:
    """Single-document mapping validation for documents whose KEYS or
    VALUES have no uniform column representation (tuple/object keys,
    mixed int/str keys, mixed-type values): the reference's
    ``validate_mapping`` (schema_builder.py:289-409) replicated
    driver-side, with every VALUE (and transforming KEY) riding the
    column engine individually via a nested ``Schema(...)`` call."""

    def _driver_validate_mapping(self, data: dict, spark) -> dict:
        from . import exceptions as er

        smap = self.schema

        # Exclusive/Inclusive group checks run BEFORE any value
        # validation and short-circuit (reference schema_builder.py
        # _compile_dict:520-571) — exclusion first, raise, then
        # inclusion (first failing group only), raise.
        groups_ex, groups_in = {}, {}
        for node in smap:
            if isinstance(node, dsl.Exclusive):
                groups_ex.setdefault(
                    node.group_of_exclusion, []).append(node)
            elif isinstance(node, dsl.Inclusive):
                groups_in.setdefault(
                    node.group_of_inclusion, []).append(node)
        gerrors = []
        for label, group in groups_ex.items():
            exists = False
            for excl in group:
                if excl.schema in data:
                    if exists:
                        msg = excl.msg or (
                            "two or more values in the same group of "
                            "exclusion '%s'" % label)
                        gerrors.append(er.ExclusiveInvalid(
                            msg,
                            [er.VirtualPathComponent("<%s>" % label)]))
                        break
                    exists = True
        if gerrors:
            raise er.MultipleInvalid(gerrors)
        for label, group in groups_in.items():
            included = [node.schema in data for node in group]
            if any(included) and not all(included):
                msg = ("some but not all values in the same group of "
                       "inclusion '%s'" % label)
                for g in group:
                    if g.msg:
                        msg = g.msg
                        break
                gerrors.append(er.InclusiveInvalid(
                    msg, [er.VirtualPathComponent("<%s>" % label)]))
                break
        if gerrors:
            raise er.MultipleInvalid(gerrors)

        # Candidate bucketing (reference schema_builder.py:273-287):
        # after priority sorting, literal/marker-literal candidates are
        # tried for THEIR data key before any wildcard candidate.
        ordered = sorted(smap.items(), key=lambda kv: _key_prio(kv[0]))
        prim = (bool, bytes, int, str, float, complex)
        cands_by_key, wildcard_cands = {}, []
        for skey, svalue in ordered:
            if type(skey) in prim:
                cands_by_key.setdefault(skey, []).append((skey, svalue))
            elif isinstance(skey, dsl.Marker) \
                    and type(skey.schema) in prim:
                cands_by_key.setdefault(
                    skey.schema, []).append((skey, svalue))
            else:
                wildcard_cands.append((skey, svalue))

        # required bookkeeping (schema_builder.py:246-263)
        required_keys = set()
        complex_required = []  # (marker, [candidate literals])
        default_items = []
        for sk in smap:
            if sk is dsl.Extra or isinstance(sk, (dsl.Extra, dsl.Remove)):
                continue
            is_marker = isinstance(sk, dsl.Marker)
            if is_marker and getattr(sk, "default", dsl.UNDEFINED) \
                    is not dsl.UNDEFINED:
                default_items.append(sk)
            if isinstance(sk, dsl.Required) or (
                self.required and not (
                    is_marker and isinstance(sk, dsl.Optional))
            ):
                if is_marker and isinstance(sk.schema, dsl.Any):
                    cands = [b for b in sk.schema.validators
                             if not isinstance(b, (type, dsl.Validator))]
                    complex_required.append((sk, cands))
                else:
                    required_keys.add(sk)

        key_value_map = dict(data)
        for marker in default_items:
            if marker.schema not in key_value_map:
                key_value_map[marker.schema] = _resolve_default(
                    marker.default)

        errors = []
        # complex required: at least one candidate key present
        # (schema_builder.py:311-325)
        for marker, cands in complex_required:
            if not any(c in key_value_map for c in cands):
                msg = marker.msg or (
                    "at least one of %s is required" % (cands,))
                errors.append(er.RequiredFieldInvalid(msg, [marker]))

        out = {}
        for key, value in key_value_map.items():
            key_path = [key]
            key_error = None
            claimed = False
            remove_key = False
            try:
                bucket = cands_by_key.get(key, [])
            except TypeError:  # unhashable data key: wildcards only
                bucket = []
            for skey, svalue in itertools.chain(bucket, wildcard_cands):
                if skey is dsl.Extra or isinstance(skey, dsl.Extra):
                    matched, new_key, match_err = True, key, None
                else:
                    matched, new_key, match_err = _driver_match_key(
                        skey, key, spark)
                if not matched:
                    # only WILDCARD candidates contribute a key error
                    # (literal candidates for other keys are irrelevant —
                    # candidate bucketing, schema_builder.py:273-287)
                    own = match_err
                    if own is not None:
                        # a callable/validator key raised its OWN Invalid:
                        # the reference surfaces it verbatim with the key
                        # path prepended (schema_builder.py:338-346)
                        if not own.path:
                            own._path = list(key_path)
                        if key_error is None or (
                                len(own.path) > len(key_error.path)):
                            key_error = own
                        continue
                    inner = (skey.schema if isinstance(skey, dsl.Marker)
                             else skey)
                    if key_error is None and isinstance(inner, type):
                        key_error = er.TypeInvalid(
                            "expected %s" % inner.__name__, list(key_path))
                    elif key_error is None and (
                        isinstance(inner, dsl.Validator) or (
                            callable(inner)
                            and not isinstance(inner, (str, bytes)))
                    ) and not isinstance(inner, (str, bytes, bool, int,
                                                 float, tuple, frozenset)):
                        key_error = er.ValueInvalid(
                            "not a valid value", list(key_path))
                    continue
                is_remove = isinstance(skey, dsl.Remove)
                exception_errors = []
                try:
                    cval = Schema(
                        svalue, required=self.required, extra=self.extra
                    )(value, spark)
                    if is_remove:
                        # reference schema_builder.py:355-358: mark for
                        # removal and KEEP scanning — a later candidate
                        # may reclaim (and keep) the key
                        remove_key = True
                        continue
                    out[new_key] = cval
                    claimed = True
                    for marker, _c in complex_required:
                        required_keys.discard(marker)
                    required_keys.discard(skey)
                    break
                except er.MultipleInvalid as e:
                    exception_errors.extend(e.errors)
                except er.Invalid as e:
                    exception_errors.append(e)
                if is_remove or remove_key:
                    # Remove fall-through on value mismatch, and silent
                    # skip of later candidates' errors once removal is
                    # pending (schema_builder.py:365-366)
                    continue
                # no backtracking once a key is selected
                # (schema_builder.py:347-348): record and stop
                for err in exception_errors:
                    if getattr(err, "no_path_attach", False):
                        pass  # SomeOf-style: stays where it was raised
                    elif not err.path:
                        err._path = list(key_path)
                        if err.error_type is None:
                            err.error_type = "dictionary value"
                    else:
                        err.prepend(list(key_path))
                    errors.append(err)
                required_keys.discard(skey)
                claimed = True
                break
            if claimed:
                continue
            if remove_key:
                continue  # no later candidate reclaimed it: drop the key
            if self.extra == ALLOW_EXTRA:
                out[key] = value
            elif self.extra == REMOVE_EXTRA:
                continue
            elif key_error is not None:
                errors.append(key_error)
            else:
                errors.append(er.Invalid("extra keys not allowed", key_path))

        for sk in required_keys:
            msg = (sk.msg if isinstance(sk, dsl.Marker) and sk.msg
                   else "required key not provided")
            name = sk.schema if isinstance(sk, dsl.Marker) else sk
            errors.append(er.RequiredFieldInvalid(msg, [name]))
        if errors:
            raise er.MultipleInvalid(errors)
        return out


Schema._driver_validate_mapping = _DriverMappingMixin._driver_validate_mapping


def _class_value_verdict(node, v):
    """Python CLASS as a data value (``{'type': float}``): no Spark cell
    can hold it, but membership/equality checks compare driver-side
    exactly like the reference (``In``/``NotIn`` just use ``in``,
    validators.py:842-846/874-878)."""
    from . import exceptions as er

    while isinstance(node, Schema):
        node = node.schema
    if isinstance(node, dsl.Marker):
        node = node.schema
    if isinstance(node, dsl.In):
        try:
            inside = v in node.container
        except TypeError:
            inside = False
        if inside:
            return ("accept", v)
        return ("error", [er.InInvalid(
            node.msg or "value must be one of %s"
            % dsl._sorted_repr(node.container))])
    if isinstance(node, dsl.NotIn):
        try:
            inside = v in node.container
        except TypeError:
            inside = True
        if not inside:
            return ("accept", v)
        return ("error", [er.NotInInvalid(
            node.msg or "value must not be one of %s"
            % dsl._sorted_repr(node.container))])
    if isinstance(node, dsl.Equal):
        if v == node.target:
            return ("accept", v)
        return ("error", [er.Invalid(
            node.msg or "Values are not equal: value:%s != target:%s"
            % (v, node.target))])
    return None


def _has_unrideable(v):
    """Does a value (sub)tree contain something the typed ride cannot
    carry faithfully — an explicit None, a mixed-type sequence, or a
    Python class?"""
    if v is None or isinstance(v, type):
        return True
    if isinstance(v, dict):
        return any(_has_unrideable(x) for x in v.values())
    if isinstance(v, (list, tuple, set, frozenset)):
        return _is_mixed_seq(v)
    return False


def _resolve_driver_values(schema_dict, data, extra_policy, root_schema,
                           required=False):
    """Single-document mode: resolve dict values a typed one-row
    DataFrame cannot carry faithfully, with the reference's exact
    semantics, driver-side:

    - EXPLICIT ``None`` values (``dsl.none_verdict``) — a cell cannot
      distinguish a missing key from an explicit null, so the table
      engine's rule is NULL-is-absent; the Python document still
      distinguishes them.
    - MIXED-type sequences (``_mixed_seq_verdict``) — no ArrayType holds
      ``[1, 'a']``; elements ride the column engine one at a time.
    - Python CLASSES as values (``_class_value_verdict``) — membership
      checks compare driver-side.

    Returns ``(cleaned_data, resolutions)`` where cleaned_data carries a
    NULL placeholder for every RESOLVED key (the struct keeps its field
    order and schema-hinted type; the ride treats the cell as absent and
    every ride error at the path is filtered as an artifact at merge) and
    resolutions is a list of ``(path_tuple, kind, payload)`` with kind in
    ``accept`` (payload goes into the output), ``drop``
    (Remove/REMOVE_EXTRA), or ``error`` (payload = [Invalid] with full
    paths + 'dictionary value' ctx). Paths whose verdict is unknown stay
    in cleaned_data unchanged — the documented static-typing divergences
    keep applying to exactly those.
    """
    from . import exceptions as er

    res = []

    def level_bails(smap):
        # presence-counting groups and key-transforming/complex keys need
        # the original presence semantics — leave the level untouched
        for k in smap:
            if isinstance(k, (dsl.Exclusive, dsl.Inclusive)):
                return True
            kk = k.schema if isinstance(k, dsl.Marker) else k
            if kk is dsl.Extra or isinstance(kk, dsl.Extra) \
                    or k is dsl.Extra or isinstance(k, dsl.Extra):
                continue
            if isinstance(kk, (str, bytes, bool, int, float)):
                continue
            if isinstance(kk, type):
                continue
            return True  # callable / Coerce / complex (Any) keys
        return False

    def claim(smap, k):
        """Candidates claiming data key ``k`` in reference priority order
        (values, Remove, markers, types — schema_builder.py:844-871);
        returns ``([(is_remove, value_node), ...], extra_node)``."""
        lits, rem_lits, rem_types = [], [], []
        mark_lits, mark_types, types_ = [], [], []
        extra_node = _MISSING_NODE
        for sk, sv in smap.items():
            if sk is dsl.Extra or isinstance(sk, dsl.Extra):
                extra_node = sv
                continue
            if isinstance(sk, dsl.Remove):
                inner = sk.schema
                if isinstance(inner, str) and inner == k:
                    rem_lits.append(sv)
                elif isinstance(inner, type) and isinstance(k, inner):
                    rem_types.append(sv)
            elif isinstance(sk, dsl.Marker):
                inner = sk.schema
                if isinstance(inner, str) and inner == k:
                    mark_lits.append(sv)
                elif isinstance(inner, type) and isinstance(k, inner):
                    mark_types.append(sv)
            elif isinstance(sk, str):
                if sk == k:
                    lits.append(sv)
            elif isinstance(sk, type):
                if isinstance(k, sk):
                    types_.append(sv)
        # bucketed order (schema_builder.py:273-287): literal-key
        # candidates (incl. literal Removes/markers) BEFORE wildcards
        cands = ([(False, v) for v in lits]
                 + [(True, v) for v in rem_lits]
                 + [(False, v) for v in mark_lits]
                 + [(True, v) for v in rem_types]
                 + [(False, v) for v in mark_types]
                 + [(False, v) for v in types_])
        return cands, extra_node

    def record(path, nv, boundary=()):
        kind, payload = nv
        if kind == "accept":
            res.append((path, "accept", payload))
            return
        errs = []
        for e in payload:
            if not e.path and e.error_type is None:
                e.error_type = "dictionary value"
            if getattr(e, "no_path_attach", False):
                # a PATH-LESS reference error (SomeOf) surfaces at the
                # nearest Schema boundary, not at its key
                e.prepend(list(boundary))
            else:
                e.prepend(list(path))
            errs.append(e)
        res.append((path, "error", errs))

    def resolve_value(cleaned, smap, k, v, prefix, ext, verdict_fn,
                      boundary=()):
        """Claim data key ``k`` (carrying an unrideable value ``v``) and
        record a driver resolution; unknown verdicts keep ``v`` in
        ``cleaned`` so the documented divergence still applies there.
        Resolved keys stay in ``cleaned`` as NULL placeholders — the
        struct keeps its field order and schema-hinted type, and every
        ride error at the path is filtered as an artifact at merge."""
        cands, extra_node = claim(smap, k)
        remove_key = False
        for is_remove, vnode in cands:
            nv = verdict_fn(vnode)
            if nv is None:
                cleaned[k] = v  # unknown: keep the documented divergence
                return
            if is_remove:
                if nv[0] == "accept":
                    # reference schema_builder.py:355-358: mark for
                    # removal, keep scanning — a later candidate may
                    # reclaim the key
                    remove_key = True
                continue  # fall-through on mismatch too
            if nv[0] != "accept" and remove_key:
                continue  # errors are silent once removal is pending
            record(prefix + (k,), nv, boundary)
            cleaned[k] = None
            return
        if remove_key:
            res.append((prefix + (k,), "drop", None))
            cleaned[k] = None
            return
        if extra_node is not _MISSING_NODE:
            nv = verdict_fn(extra_node)
            if nv is None:
                cleaned[k] = v
            else:
                record(prefix + (k,), nv, boundary)
                cleaned[k] = None
            return
        cleaned[k] = None
        if ext == ALLOW_EXTRA:
            res.append((prefix + (k,), "accept", v))
        elif ext == REMOVE_EXTRA:
            res.append((prefix + (k,), "drop", None))
        else:
            res.append((prefix + (k,), "error", [er.Invalid(
                "extra keys not allowed", path=list(prefix) + [k]
            )]))

    def walk(smap, doc, prefix, local, boundary, ext):
        # presence-counting levels (Exclusive/Inclusive groups) keep the
        # documented NULL-is-absent rule for THEIR OWN keys, but nested
        # dict values still recurse (inner resolutions cannot change this
        # level's key presence)
        bails = level_bails(smap)
        cleaned = {}
        for k, v in doc.items():
            if bails and not isinstance(v, dict):
                cleaned[k] = v
                continue
            if v is None:
                resolve_value(
                    cleaned, smap, k, v, prefix, ext,
                    lambda n: dsl.none_verdict(
                        n, self_schema=root_schema, path=local + (k,)),
                    boundary,
                )
            elif (isinstance(v, (list, tuple, set, frozenset))
                    and _is_mixed_seq(v)):
                resolve_value(
                    cleaned, smap, k, v, prefix, ext,
                    lambda n: _mixed_seq_verdict(n, v),
                    boundary,
                )
            elif isinstance(v, type):
                resolve_value(
                    cleaned, smap, k, v, prefix, ext,
                    lambda n: _class_value_verdict(n, v),
                    boundary,
                )
            elif isinstance(v, dict):
                cands, extra_node = claim(smap, k)
                if cands and cands[0][0] and _has_unrideable(v):
                    # a REMOVE candidate claims this dict value and the
                    # subtree contains values the ride reads as absent —
                    # the match-or-fall-through decision must be made
                    # driver-side on the full value (reference
                    # schema_builder.py:351-359)
                    def full_verdict(n, _v=v):
                        try:
                            return ("accept", Schema(
                                n, required=required, extra=ext)(_v))
                        except er.MultipleInvalid as e:
                            return ("error", list(e.errors))
                    resolve_value(
                        cleaned, smap, k, v, prefix, ext, full_verdict,
                        boundary,
                    )
                    continue
                node = cands[0][1] if cands and not cands[0][0] else None
                sub_ext = ext
                sub_local = local + (k,)
                sub_boundary = boundary
                while True:
                    if isinstance(node, Schema):
                        # Schema INSTANCE = callable boundary: inner
                        # paths restart there (schema_builder.py:805-809)
                        sub_ext = node.extra
                        node = node.schema
                        sub_local = ()
                        sub_boundary = prefix + (k,)
                    elif isinstance(node, dsl.Maybe):
                        # Maybe(dict) over a non-None dict value rides the
                        # inner mapping and passes its errors through
                        # unchanged (Any deepest-error rule) — descend
                        node = node._inner
                    elif isinstance(node, dsl.Marker):
                        node = node.schema
                    else:
                        break
                if (isinstance(node, dsl.Union)
                        and node.discriminant is not None):
                    try:
                        branches = [b for b in node.discriminant(
                            v, list(node.validators))]
                    except Exception:
                        branches = []
                    if len(branches) == 1 and isinstance(branches[0], dict) \
                            and not isinstance(branches[0], dsl.Object):
                        node = branches[0]
                if isinstance(node, dict) and not isinstance(node, dsl.Object):
                    cleaned[k] = walk(node, v, prefix + (k,), sub_local,
                                      sub_boundary, sub_ext)
                else:
                    cleaned[k] = v
            else:
                cleaned[k] = v
        return cleaned

    cleaned = walk(schema_dict, data, (), (), (), extra_policy)
    return cleaned, res


def _merge_driver_resolutions(result, driver_res, doc_order=None,
                              limit: int = 1000):
    """Raise MultipleInvalid combining ride violations with driver-side
    resolutions (reference order: value errors in DATA-key iteration
    order, then missing-required — schema_builder.py:360-405). Ride
    errors at resolved paths are artifacts of the key's placeholder
    removal (the required probe, or an injected marker default validated
    in the real value's place) and are dropped — the driver verdict is
    authoritative there."""
    from .exceptions import (ExclusiveInvalid, InclusiveInvalid,
                             MultipleInvalid, RequiredFieldInvalid,
                             VirtualPathComponent, invalid_from_row)

    rows = result.violations.limit(limit).collect()
    ride = [invalid_from_row(r) for r in rows]
    resolved = {p for (p, _k, _pl) in driver_res}

    def _artifact(e):
        t = tuple(e.path)
        return any(t[: len(p)] == p for p in resolved)

    ride = [e for e in ride if not _artifact(e)]
    # synthesized group errors are TAGGED by class (only the group
    # machinery at the mapping compilers emits these error types) AND by
    # the virtual path component — a document key literally named '<g>'
    # under ALLOW_EXTRA/str-wildcard fails with an ordinary class and so
    # never trips the short-circuit. The path WITHOUT the '<g>' marker is
    # the mapping level whose group fired; the reference runs group
    # checks BEFORE validating that level (schema_builder.py:536-571), so
    # NOTHING under it — including driver-side resolutions — may
    # contribute errors.
    def _rendered(p):
        # ride-error paths are strings parsed from violation rows (only
        # digit strings restored to int by invalid_from_row), while
        # driver-resolution paths carry NATIVE bool/float keys — compare
        # both sides by the Spark string rendering ('true' not 'True';
        # '1.0E7' not '10000000.0' — Spark's double->string cast follows
        # Java Double.toString, whose scientific-notation thresholds
        # differ from Python str()) so a group firing at a bool/float-
        # keyed mapping level still suppresses the resolutions under it
        if isinstance(p, bool):
            return "true" if p else "false"
        if isinstance(p, float):
            return _java_double_str(p)
        return str(p)

    group_levels = [
        tuple(_rendered(c) for c in e.path[:-1]) for e in ride
        if isinstance(e, (ExclusiveInvalid, InclusiveInvalid))
        and e.path and isinstance(e.path[-1], VirtualPathComponent)
    ]
    if () in group_levels:
        # a ROOT-level group violation: driver resolutions are moot
        raise MultipleInvalid(ride)
    extra = []
    for _p, kind, payload in driver_res:
        if kind == "error":
            extra.extend(payload)
    if group_levels:
        # nested group violation (fuzz seed 9501): drop every
        # driver-resolution error under a firing level
        extra = [
            e for e in extra
            if not any(
                tuple(_rendered(c) for c in e.path[: len(lvl)]) == lvl
                for lvl in group_levels
            )
        ]
    if not (ride or extra):
        return
    req = [e for e in ride if isinstance(e, RequiredFieldInvalid)]
    val = [e for e in ride if not isinstance(e, RequiredFieldInvalid)]
    merged = val + extra
    if doc_order:
        # reference accumulation order: per-key errors appear in the
        # DATA document's key-iteration order (stable within one key)
        big = len(doc_order)
        merged.sort(key=lambda e: doc_order.get(
            e.path[0] if e.path else None, big))
    raise MultipleInvalid(merged + req)


def _set_nested(out: dict, path: tuple, value) -> None:
    cur = out
    for p in path[:-1]:
        nxt = cur.get(p)
        if not isinstance(nxt, dict):
            nxt = {}
            cur[p] = nxt
        cur = nxt
    cur[path[-1]] = value


def _accepts_none(s) -> bool:
    """Does a value schema admit None as a VALUE (validators.py:622-635
    Maybe = Any(None, v); Any branches recurse)? Used by the single-
    document path to short-circuit a root None, which a carrier column
    would otherwise read as an absent key."""
    if s is None or s is type(None):
        return True
    if isinstance(s, dsl.Maybe):
        return True
    if isinstance(s, dsl.Any):
        return any(_accepts_none(b) for b in s.validators)
    return False


def _assert_representable(data, path=()):
    """Single-document mode rides a typed one-row DataFrame, so a MIXED-
    type sequence ([1, 'a']) has no column type. Raise the engine's
    UnsupportedSchema with the path instead of a deep py4j type error —
    a documented static-typing divergence from the reference, which
    validates heterogeneous lists element-by-element."""
    if isinstance(data, type):
        # a CLASS as a data value (Schema({'type': In((int, str))})
        # ({'type': float})): no Spark cell type can hold it
        raise UnsupportedSchema(
            "Python class %r at %s is not representable as a typed "
            "column value (single-document mode)" % (data, list(path))
        )
    if isinstance(data, dict):
        for k, v in data.items():
            _assert_representable(v, path + (k,))
    elif isinstance(data, (list, tuple, set, frozenset)):
        kinds = {
            bool if isinstance(x, bool) else type(x)
            for x in data if x is not None
        }
        if len(kinds) > 1:
            raise UnsupportedSchema(
                "mixed-type sequence %r at %s is not representable as a "
                "typed column (single-document mode)" % (data, list(path))
            )
        for i, v in enumerate(data):
            _assert_representable(v, path + (i,))


def _to_row_value(value, dtype):
    """Convert a Python document tree into Spark row values matching
    ``dtype`` (dicts -> tuples in field order, sets -> lists)."""
    if isinstance(dtype, T.StructType):
        d = value or {}
        return tuple(
            _to_row_value(d.get(f.name), f.dataType) for f in dtype.fields
        )
    if isinstance(dtype, T.ArrayType):
        if value is None:
            return None
        return [_to_row_value(x, dtype.elementType) for x in value]
    return value


_PY_SPARK_TYPE = {
    bool: T.BooleanType(),
    int: T.LongType(),
    float: T.DoubleType(),
    str: T.StringType(),
    bytes: T.BinaryType(),
}


def _resolve_default(d):
    """Callable defaults are factories (default_factory,
    schema_builder.py:29-50), resolved once at compile time."""
    return d() if (d is not UNDEFINED and callable(d)) else d


def _default_lit(default, dtype):
    """Literal for a marker default, resolved against the column's STATIC
    type. Same-family defaults cast to the column type — the column wins,
    so a ``10.0`` default on an int column injects ``10`` rather than
    silently promoting every present value to double (which would change
    offending-value renderings). Cross-family defaults (``5.0`` on an
    array column) cannot be represented in the column at all: return None
    (no injection) instead of letting coalesce fail analysis — a
    documented static-typing divergence from the reference, which only
    materializes the default on absent keys."""
    v = _resolve_default(default)
    if v is None:
        return None
    if dsl._lit_comparable(v, dtype):
        return F.lit(v).try_cast(dtype)
    return None


def _key_name(key):
    if isinstance(key, Marker):
        return key.schema
    return key


def _unwrap_marker(v):
    return v


def _maybe_expand(v, sub_t, extra=PREVENT_EXTRA):
    """``Maybe(composite)`` == ``Any(None, composite)``
    (validators.py:622-635): scalar inners stay on the compiled fast
    path (RowCheck Maybe.bind), but composite inners route through the
    structural machinery so inner errors surface with their runtime
    paths (the reference's deepest-error rule: inner field/element
    errors sit strictly deeper than the None branch's shallow
    'not a valid value' and always win).

    A dict inner over a struct/map column becomes a Schema-instance
    re-entry — it validates exactly like the single surviving branch
    (null passes for free: every emitted check guards on non-null) AND
    threads the branch's transforms (Coerce/Clamp outputs), which the
    identity-output Any routing cannot. ``required=False`` on the
    re-entry mirrors the reference's sub-compile (validators.py:259-267
    sets ``schema.required = self.required``, Maybe's default False).
    A sequence inner over an array column unwraps straight to the
    sequence compiler for the same reasons. With a custom msg, or a
    dtype the inner can never match, the Any(None, inner) branch
    routing applies (the msg overrides everything; the static-mismatch
    tie keeps the None branch's 'not a valid value')."""
    if not isinstance(v, dsl.Maybe):
        return v
    inner = v._inner
    if isinstance(inner, Schema):
        inner = inner.schema
    if isinstance(inner, dict):
        if (v.msg is None
                and isinstance(sub_t, (T.StructType, T.MapType))):
            sch = Schema(inner, required=False, extra=extra)
            # the caller applies the Any(None, inner) shallow-vs-deep
            # error selection (see _maybe_none_collapse)
            sch._from_maybe = True
            return sch
        return dsl.Any(None, inner, msg=v.msg)
    if (isinstance(inner, (list, tuple)) and inner
            and isinstance(sub_t, T.ArrayType) and v.msg is None):
        return list(inner)
    return v


def _fcol(name: str) -> Column:
    """Column reference safe for names containing dots/backticks
    (``F.col('.remove')`` parses the dot as a field access)."""
    return F.col("`" + name.replace("`", "``") + "`")


def _path_lits(path) -> list[Column]:
    """Path components as string Columns. Compile-time components are
    strings; runtime components (e.g. a sequence index inside
    ``F.transform``) are already Columns and pass through."""
    return [p if isinstance(p, Column) else F.lit(str(p)) for p in path]


_VIOL_ARR_T = (
    "array<struct<path:array<string>,message:string,"
    "error_type:string,offending:string,ctx:string>>"
)


def _viable_seq_alts_all_lists(keep_srcs, elem_t) -> bool:
    """Over an array<array<...>> column, scalar-literal alternatives can
    never match an ARRAY element (Python cross-type equality is False) —
    so ``Schema([[2, 3], 6])`` routes through the nested-sequence
    machinery exactly like ``Schema([[2, 3]])``: the list alternative
    alone decides, its deep inner errors abort (README.md 'matching is
    depth-first and fail-fast': 'not a valid value @ data[0][0]')."""
    viable = [
        a for a in keep_srcs
        if isinstance(a, list)
        or isinstance(a, (dsl.Validator, type))
        or callable(a)
        or dsl._lit_comparable(a, elem_t)
    ]
    return bool(viable) and all(isinstance(a, list) for a in viable)


def _maybe_none_collapse(key_path, singles, arrs, off_col, off_t):
    """Reference ``Maybe(dict)`` = ``Any(None, {...})`` error selection
    (validators.py:330-336 with error.py:70-77): the dict branch's
    MultipleInvalid competes with the None branch's shallow ScalarInvalid
    by its first error's PATH DEPTH. Errors raised path-less inside the
    inner dict (SomeOf's NotEnoughValid/TooManyValid, validators.py:
    1244-1259) keep an empty path through the mapping loop (only
    error_type is adjusted, schema_builder.py:365-371), so an inner dict
    whose failures are all shallow LOSES to the None branch and the whole
    branch collapses to 'not a valid value' at the key (fuzz seed 7880).
    Any strictly-deeper error keeps the full inner error set. (When deep
    and shallow errors coexist the reference's pick follows data-key
    encounter order; this engine passes the full set through — a
    documented approximation.)"""
    depth = len(key_path)
    any_deep = F.lit(False)
    any_err = F.lit(False)
    for s in singles:
        any_deep = any_deep | (s.isNotNull() & (F.size(s["path"]) > depth))
        any_err = any_err | s.isNotNull()
    for a in arrs:
        any_deep = any_deep | F.exists(
            a, lambda x: F.size(x["path"]) > depth
        )
        any_err = any_err | (F.coalesce(F.size(a), F.lit(0)) > 0)
    generic = _violation(
        key_path, F.lit("not a valid value"), "ScalarInvalid",
        py_repr_col(off_col, off_t), any_err & ~any_deep,
        ctx="dictionary value",
    )
    new_singles = [F.when(any_deep, s).otherwise(F.lit(None)) for s in singles]
    new_singles.append(generic)
    empty_v = F.lit([]).cast(_VIOL_ARR_T)
    new_arrs = [F.when(any_deep, a).otherwise(empty_v) for a in arrs]
    return new_singles, new_arrs, any_deep


def _msg_collapse_seq(msg_override, key_path, singles, arrs,
                      gate_ctx="dictionary value"):
    """Reference Msg depth<=1 rule over a LIST value's error channels
    (schema_builder.py:946-951): ``Msg([alt], m)`` wraps a fresh
    ``Schema(list)``, so a flat element error ([idx], depth 1) or a gate
    error (depth 0) collapses the whole set to Invalid(m) at the key
    path, while a NESTED element error ([idx][j], depth 2) passes
    everything through untouched. Depth is decided per row from the
    violation's own runtime path. Returns (new_singles, new_arrs)."""
    m, et = msg_override
    shallow = F.lit(False)
    for s in singles:
        # own-level gates sit at the key path (depth 0) — always shallow
        shallow = shallow | s.isNotNull()
    empty = F.array().cast(_VIOL_ARR_T)
    combined = (
        F.concat(*[F.coalesce(a.cast(_VIOL_ARR_T), empty) for a in arrs])
        if arrs else empty
    )
    first = F.element_at(combined, 1)
    arr_fired = F.coalesce(F.size(combined) > 0, F.lit(False))
    first_shallow = (
        F.size(first["path"]) - len(key_path)
    ) <= 1
    S = shallow | (arr_fired & F.coalesce(first_shallow, F.lit(False)))
    collapsed = _violation(
        key_path, F.lit(m), et, F.lit("None"), S,
        ctx=gate_ctx if key_path else None,
    )
    new_singles = [collapsed] + [F.when(~S, s) for s in singles]
    new_arrs = [F.when(~S, a) for a in arrs]
    return new_singles, new_arrs


def _key_transform_applies(smap: dict, data: dict) -> bool:
    """Would any wildcard KEY of this mapping schema RENAME a present
    data key (``Coerce(int)`` keys turn ``'10'`` into ``10``, reference
    schema_builder.py:483-488; plain-callable keys may return a new key,
    schema_builder.py:337-339)? Detection runs driver-side with the
    key-transform function applied directly — cheap, exact, and only for
    single-document validation."""
    fns = []
    for sk in smap:
        inner = sk.schema if isinstance(sk, dsl.Marker) else sk
        if isinstance(inner, dsl.Coerce):
            fns.append(inner.type)
        elif (
            callable(inner)
            and not isinstance(inner, (type, dsl.Validator, str, bytes))
        ):
            fns.append(inner)
    if not fns:
        return False
    for f in fns:
        for k in data:
            try:
                nk = f(k)
            except Exception:
                continue
            if nk is not k and (nk != k or type(nk) is not type(k)):
                return True
    return False


def _excl_trigger_msg(grp, label, present_fn) -> Column:
    """The reference's Exclusive message comes from the TRIGGERING group
    member — the second one present in group order (schema_builder.py
    :536-548 breaks at the first member seen while ``exists`` is already
    set) — falling back to the stock wording when that member has no
    ``msg``. ``present_fn(k)`` must yield a Boolean presence Column."""
    default = ("two or more values in the same group of "
               f"exclusion '{label}'")
    presents = [present_fn(k) for k in grp]
    sel = F.lit(default)
    prior = [F.lit(False)]
    for p in presents[:-1]:
        prior.append(prior[-1] | p)
    for k, p, before in reversed(list(zip(grp, presents, prior))):
        msg = getattr(k, "msg", None) or getattr(k, "marker_msg", None)
        sel = F.when(p & before, F.lit(msg or default)).otherwise(sel)
    return sel


def _violation(path, message: Column, error_type,
               offending: Column, cond: Column,
               ctx: str | None = None) -> Column:
    """``ctx`` is the reference's mapping context ('dictionary value' /
    'object value', schema_builder.py:370): set on direct value-validator
    errors, absent on required/extra/group errors — it shapes the rendered
    string, not the message."""
    from .errors import truncate_repr

    et = F.lit(error_type) if isinstance(error_type, str) else error_type
    return F.when(
        cond,
        F.struct(
            F.array(*_path_lits(path)).alias("path"),
            message.alias("message"),
            et.alias("error_type"),
            truncate_repr(offending).alias("offending"),
            F.lit(ctx).cast("string").alias("ctx"),
        ),
    ).otherwise(F.lit(None))


def validate(*a, **kw):
    """Decorator validating function arguments (schema_builder.py:1329-1376):
    positional/keyword schemas map to arguments by name; ``__return__``
    validates the return value. Like the reference, validated (possibly
    transformed) argument values are what the function receives.

    Hybrid semantics per argument kind:

    - ``Schema`` arg-schema on a **DataFrame** argument: a STATIC bind
      check — every required key must exist in ``df.schema`` and every
      validator must compile against the column types (the useful guard
      for 10^12-row pipelines: fail in the driver before launching a job,
      never per row).
    - plain Python **type** schema: ``isinstance`` (no Spark needed).
    - any other spec (``Validator``, dict, value literal, ``Schema`` over
      a plain value): reference-equivalent per-value validation via the
      single-document engine (``Schema.__call__`` one-row round trip) —
      needs an active SparkSession.
    """
    from functools import wraps

    from . import exceptions as er

    RETURNS_KEY = "__return__"
    return_schema = kw.pop(RETURNS_KEY, None)

    def _static_df_check(name, schema, value):
        fields, _, _complex = schema._bind_fields(value.schema)
        by_name = {f.name for f in value.schema.fields}
        for fld in fields:
            if (fld.required and fld.default is UNDEFINED
                    and fld.name not in by_name):
                raise er.RequiredFieldInvalid(
                    "required key not provided", [name, fld.name])

    def _validate_value(name, spec, value):
        """Per-value path: ride the value through a one-key carrier doc
        (the single-document engine); the carrier key IS the arg name, so
        raised errors already match the reference's arg-dict rendering
        (``... @ data['<argname>']``)."""
        carrier = Schema({dsl.Required(name): spec})
        return carrier({name: value})[name]

    def _check(name, schema, value):
        if isinstance(schema, Schema):
            if isinstance(value, DataFrame):
                _static_df_check(name, schema, value)
                return value
            return _validate_value(name, schema.schema, value)
        if isinstance(schema, type):
            if not isinstance(value, schema):
                raise er.TypeInvalid(
                    f"expected {schema.__name__}", [name])
            return value
        return _validate_value(name, schema, value)

    def decorator(func):
        arg_names = func.__code__.co_varnames[: func.__code__.co_argcount]
        schemas = dict(zip(arg_names, a))
        schemas.update(kw)

        @wraps(func)
        def wrapper(*args, **kwargs):
            bound = dict(zip(arg_names, args))
            bound.update(kwargs)
            for name, schema in schemas.items():
                if name in bound:
                    bound[name] = _check(name, schema, bound[name])
            out = func(**bound)
            if return_schema is not None:
                out = _check(RETURNS_KEY, return_schema, out)
            return out

        return wrapper

    return decorator


# register Schema with the DSL compiler so Schema instances used as value
# validators unwrap to their inner schema (reference: a Schema is a
# callable validator, schema_builder.py:800-811)
dsl.SCHEMA_TYPES = (Schema,)
