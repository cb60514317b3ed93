"""csp.Struct-parity tests — mirror reference csp/tests/impl/test_struct.py
patterns: defaults, unset access raises, inheritance, to/from dict
round-trip, and the Spark bridge (pack / apply_defaults / fromts)."""

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from csp_spark import Struct, UNSET, TickStream
from csp_spark.operators import baselib as bl

from conftest import START, TD


def t(s):
    return START + TD(seconds=s)


class Trade(Struct):
    price: float
    qty: int = 0
    venue: str


class StampedTrade(Trade):
    ts: dt.datetime
    tags: [str]  # csp's single-element-list annotation style


def test_metadata_and_inheritance():
    assert Trade.fields() == ["price", "qty", "venue"]
    assert StampedTrade.fields() == ["price", "qty", "venue", "ts", "tags"]
    assert StampedTrade.__defaults__ == {"qty": 0}


def test_defaults_and_unset():
    x = Trade(price=1.5)
    assert x.price == 1.5
    assert x.qty == 0                      # default applied
    with pytest.raises(AttributeError):
        _ = x.venue                        # declared but unset
    assert x.is_set("price") and not x.is_set("venue")
    x.venue = "X"
    assert x.venue == "X"
    x.venue = UNSET                        # un-setting
    assert not x.is_set("venue")
    with pytest.raises(AttributeError):
        Trade(nope=1)
    with pytest.raises(AttributeError):
        x.nope = 1


def test_dict_round_trip():
    x = StampedTrade(price=2.0, venue="Y", tags=["a", "b"])
    d = x.to_dict()
    assert d == {"price": 2.0, "qty": 0, "venue": "Y", "tags": ["a", "b"]}
    assert "ts" not in d                   # unset absent
    y = StampedTrade.from_dict(d)
    assert y == x
    assert Trade.from_dict({"price": 1.0}) != Trade.from_dict({"price": 2.0})


def test_spark_type():
    st = StampedTrade.spark_type()
    assert [f.name for f in st.fields] == Trade.fields() + ["ts", "tags"]
    assert st["qty"].dataType == T.LongType()
    assert st["tags"].dataType == T.ArrayType(T.StringType())


def test_pack_and_from_row(spark):
    df = spark.range(3).select(
        Trade.pack(price=F.col("id").cast("double") + 0.5).alias("v")
    )
    rows = df.select("v.*").collect()
    assert [r.price for r in rows] == [0.5, 1.5, 2.5]
    assert [r.qty for r in rows] == [0, 0, 0]       # default filled
    assert [r.venue for r in rows] == [None] * 3    # unset → NULL
    rec = Trade.from_row(df.collect()[0][0])
    assert rec.price == 0.5 and rec.qty == 0 and not rec.is_set("venue")


@pytest.mark.slow
def test_fromts_with_defaults(spark):
    price = bl.curve(spark, [(t(1), 10.0), (t(3), 11.0)])
    qty = bl.curve(spark, [(t(2), 5.0)])
    rec = Trade.fromts({"price": price, "qty": qty})
    got = rec.collect_ticks()
    assert [ts for ts, _ in got] == [t(1), t(2), t(3)]
    # qty invalid until t(2) → packed as NULL (unset), price persists
    assert got[0][1]["price"] == 10.0 and got[0][1]["qty"] is None
    assert got[1][1]["qty"] == 5
    assert got[2][1].asDict() == {"price": 11.0, "qty": 5, "venue": None}


def test_apply_defaults_on_collectts(spark):
    from csp_spark.operators.baselib import struct_collectts

    price = bl.curve(spark, [(t(1), 10.0), (t(2), 11.0)])
    qty = bl.curve(spark, [(t(2), 7.0)])
    s = struct_collectts({"price": price, "qty": qty})
    typed = s.with_df(
        s.df.withColumn(
            s.value_col,
            Trade.apply_defaults(F.col(s.value_col), ["price", "qty"]),
        )
    )
    got = typed.collect_ticks()
    # t(1): qty didn't tick → default 0; t(2): both ticked
    assert got[0][1]["qty"] == 0
    assert got[1][1]["qty"] == 7


# ---------------------------------------------------------------- round 4


def test_strict_struct_init_and_required():
    """Reference test_strict_structs.py: strict structs must set every
    non-default field at init; defaults and Optional-with-default fill
    in; metadata unwraps Optional[T] to T."""
    from typing import Optional

    import pytest

    from csp_spark import Struct

    class MyStrictStruct(Struct, strict=True):
        req_int: int
        opt_str: Optional[str] = None
        def_int: int = 123
        opt_bool: Optional[bool]  # no default -> required

    s1 = MyStrictStruct(req_int=10, opt_bool=True)
    assert s1.req_int == 10 and s1.opt_bool is True
    assert s1.def_int == 123 and s1.opt_str is None
    assert MyStrictStruct.__metadata__["opt_str"] is str
    assert MyStrictStruct.__metadata__["opt_bool"] is bool

    with pytest.raises(ValueError, match=r"Struct MyStrictStruct is not "
                       r"valid; required fields \[req_int, opt_bool\] were "
                       r"not set on init"):
        MyStrictStruct()
    with pytest.raises(ValueError, match=r"required fields \[opt_bool\]"):
        MyStrictStruct(req_int=10)
    # delattr forbidden on strict structs
    with pytest.raises(AttributeError, match="Strict struct MyStrictStruct "
                       "does not allow the deletion of field req_int"):
        del s1.req_int
    # hasattr true for all defined fields (everything is set at init)
    assert hasattr(s1, "opt_str") and hasattr(s1, "def_int")
    # setting None is a value, not deletion
    s1.opt_str = "x"
    s1.opt_str = None
    assert s1.opt_str is None


def test_strict_struct_inheritance_rules():
    import pytest

    from csp_spark import Struct

    class BaseStrict(Struct, strict=True):
        base_req: int

    class DerivedStrict(BaseStrict, strict=True):
        derived_req: int

    d = DerivedStrict(base_req=1, derived_req=2)
    assert (d.base_req, d.derived_req) == (1, 2)
    with pytest.raises(ValueError, match=r"required fields \[derived_req\]"):
        DerivedStrict(base_req=10)
    # mixed inheritance is rejected both ways
    with pytest.raises(ValueError, match="declared non-strict but derives "
                       "from BaseStrict which is strict"):
        class NonStrictChild(BaseStrict):
            child_val: int = 0
    class NonStrictBase(Struct):
        base_val: int
    with pytest.raises(ValueError, match="declared strict but derives from "
                       "NonStrictBase which is non-strict"):
        class StrictChild(NonStrictBase, strict=True):
            child_val: int = 0


def test_struct_yaml_roundtrip():
    """to_yaml/from_yaml (reference struct.py:312-330): nested structs
    and lists of structs round-trip through the YAML text form."""
    from csp_spark import Struct

    class Leg(Struct):
        sym: str
        qty: int = 1

    class Trade(Struct):
        price: float
        legs: list  # plain list (heterogeneous)
        note: str

    class Book(Struct):
        name: str
        top: Leg
        all_legs: list[Leg]

    t = Trade(price=1.5, note="hello")
    y = t.to_yaml()
    assert "price: 1.5" in y and "note: hello" in y and "legs" not in y
    t2 = Trade.from_yaml(y)
    assert t2 == t

    b = Book(name="b1", top=Leg(sym="ES"),
             all_legs=[Leg(sym="ES"), Leg(sym="NQ", qty=3)])
    b2 = Book.from_yaml(b.to_yaml())
    assert b2.name == "b1"
    assert b2.top == Leg(sym="ES")
    assert b2.all_legs == [Leg(sym="ES"), Leg(sym="NQ", qty=3)]
    # yaml text is the dict form — nested mapping visible
    assert "top:" in b.to_yaml() and "sym: ES" in b.to_yaml()


def test_strict_struct_yaml_and_dict():
    from csp_spark import Struct

    class S(Struct, strict=True):
        a: int
        b: str = "d"

    s = S(a=7)
    assert S.from_yaml(s.to_yaml()) == s
    assert S.from_dict({"a": 7}) == s


def test_struct_json_update_copy_surface():
    """Reference PyStruct surface: to_json/from_json (ISO datetimes),
    update, all_fields_set, copy/deepcopy — incl. on strict structs,
    whose copy must not re-run required-field validation."""
    import datetime as dt
    import json

    from csp_spark import Struct

    class Fill(Struct):
        when: dt.datetime
        px: float

    class Order(Struct, strict=True):
        oid: int
        note: str = "n"
        fills: list[Fill] = []

    o = Order(oid=1, fills=[Fill(when=dt.datetime(2024, 1, 2, 3), px=9.5)])
    j = o.to_json()
    assert json.loads(j)["fills"][0]["when"] == "2024-01-02T03:00:00"
    o2 = Order.from_json(j)
    assert o2 == o and o2.fills[0].when == dt.datetime(2024, 1, 2, 3)
    # update sets named fields only
    o2.update(note="changed")
    assert o2.note == "changed" and o2.oid == 1
    # all_fields_set
    assert o.all_fields_set()

    class Partial(Struct):
        a: int
        b: int
    p = Partial(a=1)
    assert not p.all_fields_set()
    # copy/deepcopy on strict structs (copy must bypass init validation)
    c = o.copy()
    assert c == o
    dcp = o.deepcopy()
    dcp.fills[0].px = 1.0
    assert o.fills[0].px == 9.5  # deep copy did not share the nested Fill
    c2 = o.copy()
    c2.fills[0].px = 2.0
    assert o.fills[0].px == 2.0  # shallow copy DOES share (reference copy)


def test_strict_struct_unset_assignment_forbidden():
    """Assigning UNSET is deletion — strict structs must reject it
    (review regression: it used to bypass the required-field rule)."""
    import pytest

    from csp_spark import Struct, UNSET

    class S(Struct, strict=True):
        a: int

    s = S(a=1)
    with pytest.raises(AttributeError, match="does not allow the deletion"):
        s.a = UNSET
    assert s.a == 1
    # non-strict structs keep the un-setting behavior
    class P(Struct):
        a: int
    p = P(a=1)
    p.a = UNSET
    assert not p.is_set("a")


def test_define_struct_family(spark):
    """csp.impl.struct.define_struct / define_nested_struct (reference
    struct.py:350-374, the dynamic form the reference's own DB adapter
    uses at db.py:271): runtime-built structs behave exactly like
    class-statement structs, including through the Spark pack path."""
    import pytest

    from csp.impl.struct import (
        StructMeta, define_nested_struct, define_struct,
        defineNestedStruct, defineStruct,
    )
    from csp_spark import Struct

    Trade = define_struct(
        "Trade", {"price": float, "qty": int}, {"qty": 1}
    )
    assert isinstance(Trade, StructMeta) and issubclass(Trade, Struct)
    t = Trade(price=2.5)
    assert (t.price, t.qty) == (2.5, 1)
    # int->float coercion and strict mode ride the shared metaclass
    assert define_struct("F", {"x": float})(x=3).x == 3.0
    with pytest.raises(ValueError, match="required fields"):
        define_struct("R", {"x": float}, strict=True)()

    # nested: dict metadata -> child classes named {name}_{field};
    # a dict default for the nested field becomes a set child INSTANCE
    Order = define_nested_struct(
        "Order",
        {"id": int, "leg": {"px": float, "sz": int}},
        {"id": 7, "leg": {"sz": 100}},
    )
    o = Order()
    assert o.id == 7
    assert type(o.leg).__name__ == "Order_leg"
    assert o.leg.sz == 100 and not o.leg.is_set("px")
    # no default dict -> nested field stays unset
    o2 = define_nested_struct("O2", {"leg": {"px": float}})()
    assert not o2.is_set("leg")
    # deprecated camelCase spellings stay source-compatible
    assert defineStruct("D", {"a": int})(a=1).a == 1
    assert defineNestedStruct("DN", {"a": {"b": int}})

    # through the ★ Spark query path: pack() -> struct column -> select
    from pyspark.sql import functions as F

    from csp_spark.sources import read_table

    ev = read_table(spark, "/root/testdata/sf0.001/events.parquet")
    Tick = define_struct("Tick", {"uid": int, "value": float})
    got = (
        ev.select(
            Tick.pack(uid=F.col("user_id"), value=F.col("value")).alias("s")
        )
        .select(F.sum("s.uid").alias("su"), F.count("s.value").alias("cv"))
        .first()
    )
    want = ev.select(
        F.sum("user_id").alias("su"), F.count("value").alias("cv")
    ).first()
    assert (got.su, got.cv) == (want.su, want.cv)


def test_fastlist_and_ts_type_validator():
    """csp.impl.types.typing_utils.FastList + TsTypeValidator
    (reference typing_utils.py:14,125): FastList[T] is a struct list
    annotation (ArrayType column); TsTypeValidator enforces the
    documented ts[...] arg compatibility rules."""
    import typing

    import pytest

    from csp.impl.struct import define_struct
    from csp.impl.types.typing_utils import FastList, TsTypeValidator

    with pytest.raises(NotImplementedError):
        FastList()
    S = define_struct("S", {"xs": FastList[int]})
    assert "ArrayType(LongType" in str(S.spark_type()["xs"].dataType)
    s = S(xs=[1, 2])
    assert s.xs == [1, 2]

    # ts[List] validates ts[List[float]]; parameterized dict rejects
    # a mismatched leaf (the reference docstring's own two examples)
    TsTypeValidator.make_cached(typing.List).validate(typing.List[float])
    with pytest.raises(TypeError):
        TsTypeValidator.make_cached(
            typing.Dict[str, typing.List[str]]
        ).validate(typing.Dict[str, typing.List[float]])
    # numeric promotion, wildcards, unions, nested-ts rejection
    assert TsTypeValidator.make_cached(float).validate(int) is float
    assert TsTypeValidator.make_cached(typing.Any).validate(dict) is dict
    TsTypeValidator.make_cached(typing.Union[float, str]).validate(str)
    from csp_spark.core.surface import ts

    with pytest.raises(TypeError, match="nested ts"):
        TsTypeValidator(ts[int])
    # instances are cached per source type (basket-wiring hot path)
    assert TsTypeValidator.make_cached(typing.List) is (
        TsTypeValidator.make_cached(typing.List)
    )
