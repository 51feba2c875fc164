"""Unit tests for the Mongo-pipeline translator (plans/pipeline.py):
array predicates, error handling, stage composition — the surfaces the
oracle queries can't reach with the flat events table."""

from __future__ import annotations

import pytest

from pymongo_change_stream_reader_spark.plans.pipeline import (
    PipelineError,
    _regex_group_count,
    parse_pipeline,
    read_versioned_sink,
    translate_pipeline,
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "alice", ["a", "b", "c"], [1, 5, 9], {"city": "ber", "zip": "10115"}),
            (2, "bob", ["b"], [2, 4], {"city": "muc", "zip": "80331"}),
            (3, "carol", [], [10, 20, 30], {"city": "ber", "zip": "10117"}),
        ],
        "id INT, name STRING, tags ARRAY<STRING>, scores ARRAY<INT>, "
        "addr STRUCT<city: STRING, zip: STRING>",
    )


def run(pipe, df, **kw):
    return translate_pipeline(pipe, **kw)(df)


def test_parse_validation():
    with pytest.raises(PipelineError):
        parse_pipeline("{not json")
    with pytest.raises(PipelineError):
        parse_pipeline('{"$match": {}}')  # not a list
    with pytest.raises(PipelineError):
        parse_pipeline([{"$match": {}, "$project": {}}])  # two keys per stage
    assert parse_pipeline('[{"$match": {"a": 1}}]') == [{"$match": {"a": 1}}]


def test_match_array_operators(docs):
    assert run([{"$match": {"tags": {"$size": 1}}}], docs).collect()[0]["id"] == 2
    assert run([{"$match": {"tags": {"$all": ["a", "b"]}}}], docs).collect()[0]["id"] == 1
    got = run([{"$match": {"scores": {"$elemMatch": {"$gte": 5, "$lt": 10}}}}], docs)
    assert sorted(r["id"] for r in got.collect()) == [1]


def test_match_nested_and_nor(docs):
    got = run([{"$match": {"addr.city": "ber", "id": {"$gte": 2}}}], docs)
    assert [r["id"] for r in got.collect()] == [3]
    got = run([{"$match": {"$nor": [{"id": 1}, {"name": "bob"}]}}], docs)
    assert [r["id"] for r in got.collect()] == [3]


def test_match_regex_options(docs):
    got = run([{"$match": {"name": {"$regex": "^A", "$options": "i"}}}], docs)
    assert [r["name"] for r in got.collect()] == ["alice"]


def test_replaceroot_and_unset(docs):
    got = run([{"$replaceRoot": {"newRoot": "$addr"}}], docs)
    assert got.columns == ["city", "zip"]
    got = run([{"$unset": "tags"}, {"$unset": ["scores", "addr"]}], docs)
    assert got.columns == ["id", "name"]


def test_project_exclusion_and_computed(docs):
    got = run([{"$project": {"tags": 0, "scores": 0, "addr": 0}}], docs)
    assert got.columns == ["id", "name"]
    got = run(
        [{"$project": {"id": 1, "shout": {"$concat": [{"$toUpper": "$name"}, "!"]}}}],
        docs,
    )
    assert got.columns == ["id", "shout"]
    assert got.collect()[0]["shout"] == "ALICE!"


def test_set_overwrites(docs):
    got = run([{"$set": {"name": {"$toUpper": "$name"}}}], docs)
    assert {r["name"] for r in got.collect()} == {"ALICE", "BOB", "CAROL"}


def test_substr_is_zero_based(docs):
    got = run([{"$project": {"pre": {"$substr": ["$name", 0, 3]}}}], docs)
    assert sorted(r["pre"] for r in got.collect()) == ["ali", "bob", "car"]


def test_unsupported_raises(docs):
    with pytest.raises(PipelineError):
        run([{"$merge": {"into": "t"}}], docs)
    with pytest.raises(PipelineError):
        run([{"$group": {"_id": "$name"}}], docs)  # no accumulator
    with pytest.raises(PipelineError):
        run([{"$match": {"name": {"$type": "javascript"}}}], docs)
    with pytest.raises(PipelineError):
        run([{"$project": {"x": {"$dateFromParts": {}}}}], docs)


def test_type_predicate(docs):
    # typeof() is constant per column type -> Catalyst folds these.
    assert run([{"$match": {"name": {"$type": "string"}}}], docs).count() == 3
    assert run([{"$match": {"name": {"$type": "int"}}}], docs).count() == 0
    assert run([{"$match": {"id": {"$type": "number"}}}], docs).count() == 3
    assert run([{"$match": {"tags": {"$type": "array"}}}], docs).count() == 3
    assert run([{"$match": {"addr": {"$type": "object"}}}], docs).count() == 3
    assert run([{"$match": {"addr": {"$type": ["object", "null"]}}}], docs).count() == 3


def test_redact_keep_prune(docs):
    got = run(
        [{"$redact": {"$cond": [{"$gte": ["$id", 2]}, "$$KEEP", "$$PRUNE"]}}],
        docs,
    )
    assert sorted(r["id"] for r in got.collect()) == [2, 3]
    # $$DESCEND (supported since round 3): descend-everywhere keeps all
    got2 = run([{"$redact": {"$cond": [True, "$$DESCEND", "$$PRUNE"]}}], docs)
    assert got2.count() == 3


def test_math_and_regex_ops(docs):
    got = run(
        [
            {
                "$project": {
                    "p": {"$pow": ["$id", 2]},
                    "r": {"$trunc": [{"$sqrt": "$id"}, 2]},
                    "m": {"$regexMatch": {"input": "$name", "regex": "^A", "options": "i"}},
                    "hi": {"$max": "$scores"},
                    "lo": {"$min": "$scores"},
                    "isa": {"$isArray": "$tags"},
                    "isn": {"$isNumber": "$name"},
                }
            }
        ],
        docs,
    ).collect()
    by_p = {int(r["p"]): r for r in got}  # p = id^2 -> 1, 4, 9
    assert by_p[1]["r"] == 1.0 and by_p[4]["r"] == 1.41
    assert by_p[1]["m"] is True and by_p[4]["m"] is False
    assert by_p[9]["hi"] == 30 and by_p[9]["lo"] == 10
    assert by_p[1]["isa"] is True and by_p[1]["isn"] is False


def test_date_family(spark):
    df = spark.createDataFrame(
        [("2024-03-31 22:30:45", "2024-04-01 01:10:00")],
        "a STRING, b STRING",
    ).selectExpr("cast(a as timestamp) a", "cast(b as timestamp) b")
    got = run(
        [
            {
                "$project": {
                    "y": {"$year": "$a"},
                    "dom": {"$dayOfMonth": "$a"},
                    "idow": {"$isoDayOfWeek": "$a"},  # 2024-03-31 = Sunday
                    "plus": {"$dateAdd": {"startDate": "$a", "unit": "day", "amount": 1}},
                    "trunc": {"$dateTrunc": {"date": "$a", "unit": "month"}},
                    "ddays": {"$dateDiff": {"startDate": "$a", "endDate": "$b", "unit": "day"}},
                    "dmon": {"$dateDiff": {"startDate": "$a", "endDate": "$b", "unit": "month"}},
                    "dhr": {"$dateDiff": {"startDate": "$a", "endDate": "$b", "unit": "hour"}},
                }
            }
        ],
        df,
    ).collect()[0]
    assert got["y"] == 2024 and got["dom"] == 31 and got["idow"] == 7
    assert str(got["plus"]).startswith("2024-04-01 22:30:45")
    assert str(got["trunc"]).startswith("2024-03-01")
    # Boundary-crossing semantics: 22:30 -> 01:10 next day crosses one
    # midnight, one month boundary, and three hour boundaries.
    assert got["ddays"] == 1 and got["dmon"] == 1 and got["dhr"] == 3


def test_map_filter_reduce(docs):
    got = run(
        [
            {
                "$project": {
                    "id": 1,
                    "upper_tags": {
                        "$map": {"input": "$tags", "as": "t", "in": {"$toUpper": "$$t"}}
                    },
                    "big_scores": {
                        "$filter": {
                            "input": "$scores", "as": "s", "cond": {"$gte": ["$$s", 5]}
                        }
                    },
                    "score_sum": {
                        "$reduce": {
                            "input": "$scores",
                            "initialValue": 0,
                            "in": {"$add": ["$$value", "$$this"]},
                        }
                    },
                }
            }
        ],
        docs,
    )
    rows = {r["id"]: r for r in got.collect()}
    assert rows[1]["upper_tags"] == ["A", "B", "C"]
    assert rows[1]["big_scores"] == [5, 9]
    assert rows[3]["score_sum"] == 60


def test_array_elem_slice_trim(docs):
    got = run(
        [
            {
                "$project": {
                    "id": 1,
                    "first_tag": {"$arrayElemAt": ["$tags", 0]},
                    "last_tag": {"$arrayElemAt": ["$tags", -1]},
                    "two_scores": {"$slice": ["$scores", 2]},
                    "clean": {"$trim": {"input": {"$concat": ["  ", "$name", " "]}}},
                }
            }
        ],
        docs,
    )
    rows = {r["id"]: r for r in got.collect()}
    assert rows[1]["first_tag"] == "a" and rows[1]["last_tag"] == "c"
    assert rows[1]["two_scores"] == [1, 5]
    assert rows[2]["clean"] == "bob"


def test_unbound_variable_raises(docs):
    with pytest.raises(PipelineError, match="unbound"):
        run([{"$project": {"x": {"$toUpper": "$$nope"}}}], docs)


def test_switch_let_range(docs):
    got = run(
        [
            {
                "$project": {
                    "id": 1,
                    "size_class": {
                        "$switch": {
                            "branches": [
                                {"case": {"$gte": [{"$size": "$scores"}, 3]}, "then": "big"},
                                {"case": {"$eq": [{"$size": "$scores"}, 2]}, "then": "mid"},
                            ],
                            "default": "small",
                        }
                    },
                    "scaled": {
                        "$let": {
                            "vars": {"m": {"$size": "$scores"}},
                            "in": {"$multiply": ["$$m", 10]},
                        }
                    },
                    "r": {"$range": [0, 3]},
                }
            }
        ],
        docs,
    )
    rows = {r["id"]: r for r in got.collect()}
    assert rows[1]["size_class"] == "big" and rows[2]["size_class"] == "mid"
    assert rows[3]["scaled"] == 30
    assert rows[1]["r"] == [0, 1, 2]


def test_array_expression_ops(docs):
    got = run(
        [
            {
                "$project": {
                    "id": 1,
                    "both": {"$concatArrays": ["$tags", ["z"]]},
                    "setu": {"$setUnion": ["$tags", ["b", "z"]]},
                    "seti": {"$setIntersection": ["$tags", ["b", "c", "q"]]},
                    "setd": {"$setDifference": ["$tags", ["a"]]},
                    "idx_b": {"$indexOfArray": ["$tags", "b"]},
                    "head": {"$first": "$tags"},
                    "tail": {"$last": "$tags"},
                    "rev": {"$reverseArray": "$tags"},
                    "total": {"$sum": "$scores"},
                    "mean": {"$avg": "$scores"},
                }
            }
        ],
        docs,
    )
    r1 = {r["id"]: r for r in got.collect()}[1]
    assert r1["both"] == ["a", "b", "c", "z"]
    assert r1["setu"] == ["a", "b", "c", "z"]
    assert r1["seti"] == ["b", "c"]
    assert r1["setd"] == ["b", "c"]
    assert r1["idx_b"] == 1
    assert r1["head"] == "a" and r1["tail"] == "c"
    assert r1["rev"] == ["c", "b", "a"]
    assert r1["total"] == 15.0
    assert r1["mean"] == 5.0
    r3 = {r["id"]: r for r in got.collect()}[3]
    assert r3["head"] is None and r3["tail"] is None  # empty tags


def test_object_array_zip_ops(spark):
    df = spark.createDataFrame(
        [({"a": 1, "b": 2}, ["x", "y"], [10, 20], "2024-02-29 12:00:00")],
        "m MAP<STRING, INT>, s ARRAY<STRING>, n ARRAY<INT>, d STRING",
    )
    got = run(
        [
            {
                "$project": {
                    "kv": {"$objectToArray": "$m"},
                    "back": {"$arrayToObject": {"$objectToArray": "$m"}},
                    "z": {"$zip": {"inputs": ["$s", "$n"]}},
                    "ts": {
                        "$dateFromString": {
                            "dateString": "$d",
                            "format": "%Y-%m-%d %H:%M:%S",
                        }
                    },
                }
            }
        ],
        df,
    ).collect()[0]
    assert sorted((e["k"], e["v"]) for e in got["kv"]) == [("a", 1), ("b", 2)]
    assert got["back"] == {"a": 1, "b": 2}
    assert [(e["s"], e["n"]) for e in got["z"]] == [("x", 10), ("y", 20)]
    assert str(got["ts"]).startswith("2024-02-29 12:00:00")


def test_convert(spark):
    df = spark.createDataFrame([("12", "nope", None)], "ok STRING, bad STRING, nul STRING")
    got = run(
        [
            {
                "$project": {
                    "a": {"$convert": {"input": "$ok", "to": "int"}},
                    "b": {"$convert": {"input": "$bad", "to": "int", "onError": -1}},
                    "c": {"$convert": {"input": "$nul", "to": "int", "onNull": 0}},
                    "d": {"$convert": {"input": "$ok", "to": "double"}},
                }
            }
        ],
        df,
    ).collect()[0]
    assert (got["a"], got["b"], got["c"], got["d"]) == (12, -1, 0, 12.0)
    with pytest.raises(PipelineError):
        run([{"$project": {"x": {"$convert": {"input": "$ok", "to": "objectId"}}}}], df)


# ---------------------------------------------------------------------------
# Round-2 fidelity fixes (ADVICE r1 + VERDICT r1 next-round items).
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def nullable(spark):
    return spark.createDataFrame(
        [(1, 5), (2, None), (3, 0)], "id INT, a INT"
    )


def test_match_null_literals(nullable):
    """Mongo null semantics: {a: null} matches null/missing; {$ne:
    null} keeps only present non-null (round 1 inverted this)."""
    assert sorted(r["id"] for r in run([{"$match": {"a": None}}], nullable).collect()) == [2]
    assert sorted(
        r["id"] for r in run([{"$match": {"a": {"$eq": None}}}], nullable).collect()
    ) == [2]
    assert sorted(
        r["id"] for r in run([{"$match": {"a": {"$ne": None}}}], nullable).collect()
    ) == [1, 3]
    assert sorted(
        r["id"] for r in run([{"$match": {"a": {"$in": [None, 5]}}}], nullable).collect()
    ) == [1, 2]
    assert sorted(
        r["id"] for r in run([{"$match": {"a": {"$nin": [None, 5]}}}], nullable).collect()
    ) == [3]
    # strict inequalities against null match nothing; $gte/$lte match null
    assert run([{"$match": {"a": {"$gt": None}}}], nullable).count() == 0
    assert sorted(
        r["id"] for r in run([{"$match": {"a": {"$gte": None}}}], nullable).collect()
    ) == [2]


def test_expr_eq_is_null_safe(nullable):
    """Aggregation $eq uses Mongo's total order: null == null is true,
    and the result itself is never null."""
    rows = {
        r["id"]: r["isnull"]
        for r in run(
            [{"$project": {"id": 1, "isnull": {"$eq": ["$a", None]}}}], nullable
        ).collect()
    }
    assert rows == {1: False, 2: True, 3: False}


def test_split_literal_delimiter(docs):
    """$split delimiters are literal strings, not regexes — '.' and
    '|' must not explode into per-char splits."""
    got = run(
        [
            {
                "$project": {
                    "id": 1,
                    "by_dot": {"$split": [{"$concat": ["$name", ".x.y"]}, "."]},
                    "by_pipe": {"$split": [{"$concat": ["$name", "|z"]}, "|"]},
                }
            }
        ],
        docs,
    )
    row = {r["id"]: r for r in got.collect()}[2]
    assert row["by_dot"] == ["bob", "x", "y"]
    assert row["by_pipe"] == ["bob", "z"]
    with pytest.raises(PipelineError):
        run([{"$project": {"x": {"$split": ["$name", "$name"]}}}], docs)


def test_slice_negative_forms(docs):
    """Mongo $slice: negative count = last |n|; 3-arg negative position
    counts from the end and clamps to the start when |pos| > len."""
    got = run(
        [
            {
                "$project": {
                    "id": 1,
                    "last2": {"$slice": ["$scores", -2]},
                    "last9": {"$slice": ["$scores", -9]},
                    "from_neg2": {"$slice": ["$scores", -2, 1]},
                    "clamped": {"$slice": ["$scores", -9, 2]},
                    "mid": {"$slice": ["$scores", 1, 2]},
                }
            }
        ],
        docs,
    )
    rows = {r["id"]: r for r in got.collect()}
    assert rows[1]["last2"] == [5, 9]
    assert rows[1]["last9"] == [1, 5, 9]  # |n| > len -> whole array
    assert rows[1]["from_neg2"] == [5]
    assert rows[1]["clamped"] == [1, 5]  # |pos| > len -> from start
    assert rows[1]["mid"] == [5, 9]
    with pytest.raises(PipelineError):
        run([{"$project": {"x": {"$slice": ["$scores", 0, -1]}}}], docs)


def test_elemmatch_field_documents(spark):
    """$elemMatch with a field doc applies predicates to the struct
    element's fields (round 1 supported only bare operator docs)."""
    items = spark.createDataFrame(
        [
            (1, [{"qty": 6, "price": 3}, {"qty": 1, "price": 50}]),
            (2, [{"qty": 9, "price": 20}]),
            (3, [{"qty": 2, "price": 1}]),
        ],
        "id INT, items ARRAY<STRUCT<qty: INT, price: INT>>",
    )
    got = run(
        [{"$match": {"items": {"$elemMatch": {"qty": {"$gte": 5}, "price": {"$lt": 10}}}}}],
        items,
    )
    assert sorted(r["id"] for r in got.collect()) == [1]
    # bare-value field equality inside the element doc
    got = run([{"$match": {"items": {"$elemMatch": {"qty": 9}}}}], items)
    assert sorted(r["id"] for r in got.collect()) == [2]
    with pytest.raises(PipelineError):
        run([{"$match": {"items": {"$elemMatch": {"qty": 9, "$gt": 1}}}}], items)


def test_date_from_parts(spark):
    df = spark.createDataFrame([(2024, 7, 13, 17, 8, 51, 823)],
                               "y INT, mo INT, d INT, h INT, mi INT, s INT, ms INT")
    got = run(
        [
            {
                "$project": {
                    "full": {
                        "$dateFromParts": {
                            "year": "$y", "month": "$mo", "day": "$d",
                            "hour": "$h", "minute": "$mi", "second": "$s",
                            "millisecond": "$ms",
                        }
                    },
                    "defaults": {"$dateFromParts": {"year": "$y"}},
                    "carry": {"$dateFromParts": {"year": "$y", "month": 14}},
                }
            }
        ],
        df,
    ).collect()[0]
    assert str(got["full"]) == "2024-07-13 17:08:51.823000"
    assert str(got["defaults"]) == "2024-01-01 00:00:00"
    # month 14 carries into February of the next year, as in Mongo
    assert str(got["carry"]) == "2025-02-01 00:00:00"
    with pytest.raises(PipelineError):
        run([{"$project": {"x": {"$dateFromParts": {"year": 2024, "timezone": "UTC"}}}}], df)


def test_project_id_default_and_mixed(spark):
    df = spark.createDataFrame([(10, "x", 1)], "_id INT, name STRING, n INT")
    # _id rides along by default in inclusion mode...
    got = run([{"$project": {"name": 1}}], df)
    assert got.columns == ["_id", "name"]
    # ...unless explicitly excluded
    got = run([{"$project": {"name": 1, "_id": 0}}], df)
    assert got.columns == ["name"]
    # mixed inclusion/exclusion (other than _id: 0) is an error, as in Mongo
    with pytest.raises(PipelineError):
        run([{"$project": {"name": 1, "n": 0}}], df)


def test_project_dotted_nesting(docs):
    """Dotted inclusion paths preserve Mongo's nested output shape
    ({"addr.city": 1} -> addr.city struct), not a flattened rename."""
    got = run([{"$project": {"id": 1, "addr.city": 1}}], docs)
    assert got.columns == ["id", "addr"]
    assert got.schema["addr"].dataType.simpleString() == "struct<city:string>"
    assert sorted(r["addr"]["city"] for r in got.collect()) == ["ber", "ber", "muc"]
    # dotted exclusion drops the nested field, keeps the rest
    got = run([{"$project": {"addr.zip": 0}}], docs)
    assert got.schema["addr"].dataType.simpleString() == "struct<city:string>"
    # path collision is an error, as in Mongo
    with pytest.raises(PipelineError):
        run([{"$project": {"addr": 1, "addr.city": 1}}], docs)


def test_group_stage(docs):
    got = run(
        [
            {
                "$group": {
                    "_id": {"$gt": ["$id", 1]},
                    "n": {"$count": {}},
                    "ids": {"$push": "$id"},
                    "mx": {"$max": "$id"},
                }
            },
            {"$sort": {"mx": 1}},
        ],
        docs,
    ).collect()
    rows = {r["_id"]: r for r in got}
    assert rows[False]["n"] == 1 and rows[False]["ids"] == [1]
    assert rows[True]["n"] == 2 and sorted(rows[True]["ids"]) == [2, 3]
    assert rows[True]["mx"] == 3
    # null _id -> one global group
    total = run(
        [{"$group": {"_id": None, "n": {"$sum": 1}}}], docs
    ).collect()
    assert total[0]["_id"] is None and total[0]["n"] == 3
    # compound document key -> struct
    comp = run(
        [{"$group": {"_id": {"c": "$addr.city"}, "n": {"$sum": 1}}}], docs
    ).collect()
    assert {(r["_id"]["c"], r["n"]) for r in comp} == {("ber", 2), ("muc", 1)}


def test_unwind_sort_limit_skip_count(docs):
    got = run(
        [
            {"$unwind": "$tags"},
            {"$sort": {"id": 1, "tags": 1}},
        ],
        docs,
    ).collect()
    assert [(r["id"], r["tags"]) for r in got] == [
        (1, "a"), (1, "b"), (1, "c"), (2, "b"),
    ]
    # carol has [] -> dropped without preserve, kept as null with it
    kept = run(
        [{"$unwind": {"path": "$tags", "preserveNullAndEmptyArrays": True}}],
        docs,
    )
    assert kept.filter("id = 3").collect()[0]["tags"] is None
    # includeArrayIndex
    idx = run(
        [{"$unwind": {"path": "$scores", "includeArrayIndex": "i"}}], docs
    ).filter("id = 1").orderBy("i").collect()
    assert [(r["i"], r["scores"]) for r in idx] == [(0, 1), (1, 5), (2, 9)]
    # sort desc + skip + limit compose positionally
    page = run(
        [
            {"$unwind": "$scores"},
            {"$sort": {"scores": -1}},
            {"$skip": 1},
            {"$limit": 2},
        ],
        docs,
    ).collect()
    assert [r["scores"] for r in page] == [20, 10]
    n = run([{"$count": "total"}], docs).collect()
    assert n[0]["total"] == 3


def test_sort_by_count(docs):
    got = run([{"$unwind": "$tags"}, {"$sortByCount": "$tags"}], docs).collect()
    assert [(r["_id"], r["count"]) for r in got] == [("b", 2), ("a", 1), ("c", 1)]


def test_lookup_stage(spark, docs):
    """$lookup collects matches into an array-of-structs column, []
    when no match; $lookup + $unwind lowers to a plain join."""
    orders = spark.createDataFrame(
        [(100, 1, "x"), (101, 1, "y"), (102, 2, "z")],
        "oid INT, uid INT, item STRING",
    )
    got = translate_pipeline(
        [{"$lookup": {"from": "orders", "localField": "id",
                      "foreignField": "uid", "as": "ords"}}],
        tables={"orders": orders},
    )(docs)
    rows = {r["id"]: r["ords"] for r in got.collect()}
    assert sorted(o["oid"] for o in rows[1]) == [100, 101]
    assert [o["item"] for o in rows[2]] == ["z"]
    assert rows[3] == []  # no match -> empty array, not null

    unwound = translate_pipeline(
        [
            {"$lookup": {"from": "orders", "localField": "id",
                         "foreignField": "uid", "as": "o"}},
            {"$unwind": "$o"},
            {"$project": {"id": 1, "item": "$o.item"}},
        ],
        tables={"orders": orders},
    )(docs)
    assert sorted((r["id"], r["item"]) for r in unwound.collect()) == [
        (1, "x"), (1, "y"), (2, "z"),
    ]
    with pytest.raises(PipelineError):
        run([{"$lookup": {"from": "nope", "localField": "id",
                          "foreignField": "uid", "as": "o"}}], docs)


def test_union_with_stage(spark, docs):
    extra = spark.createDataFrame([(9, "zed")], "id INT, name STRING")
    got = translate_pipeline(
        [{"$unionWith": {"coll": "extra"}}, {"$project": {"id": 1, "name": 1}}],
        tables={"extra": extra},
    )(docs)
    assert sorted(r["id"] for r in got.collect()) == [1, 2, 3, 9]
    # sub-pipeline applies to the unioned side
    got = translate_pipeline(
        [
            {"$unionWith": {"coll": "extra",
                            "pipeline": [{"$match": {"id": {"$gt": 10}}}]}},
            {"$project": {"id": 1}},
        ],
        tables={"extra": extra},
    )(docs)
    assert sorted(r["id"] for r in got.collect()) == [1, 2, 3]


def test_bucket_stages(docs):
    got = run(
        [
            {"$unwind": "$scores"},
            {
                "$bucket": {
                    "groupBy": "$scores",
                    "boundaries": [0, 5, 10, 100],
                    "output": {"n": {"$sum": 1}, "mx": {"$max": "$scores"}},
                }
            },
        ],
        docs,
    ).collect()
    rows = {r["_id"]: (r["n"], r["mx"]) for r in got}
    # scores: 1,5,9,2,4,10,20,30 -> [0,5): {1,2,4}, [5,10): {5,9}, [10,100): {10,20,30}
    assert rows == {0: (3, 4), 5: (2, 9), 100 if False else 10: (3, 30)}
    with pytest.raises(PipelineError):
        run([{"$bucket": {"groupBy": "$id", "boundaries": [5, 1]}}], docs)

    auto = run(
        [
            {"$unwind": "$scores"},
            {"$bucketAuto": {"groupBy": "$scores", "buckets": 2}},
        ],
        docs,
    ).collect()
    spans = sorted((r["_id"]["min"], r["_id"]["max"], r["count"]) for r in auto)
    assert spans == [(1, 5, 4), (9, 30, 4)]


def test_set_window_fields(spark):
    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 30.0), ("b", 4, 5.0)],
        "grp STRING, seq INT, v DOUBLE",
    )
    got = run(
        [
            {
                "$setWindowFields": {
                    "partitionBy": "$grp",
                    "sortBy": {"seq": 1},
                    "output": {
                        "running": {
                            "$sum": "$v",
                            "window": {"documents": ["unbounded", "current"]},
                        },
                        "total": {"$sum": "$v"},
                        "rnk": {"$rank": {}},
                        "prev": {"$shift": {"output": "$v", "by": -1, "default": 0.0}},
                        "nxt": {"$shift": {"output": "$v", "by": 1}},
                        "win_avg": {
                            "$avg": "$v",
                            "window": {"documents": [-1, 1]},
                        },
                    },
                }
            }
        ],
        df,
    ).collect()
    rows = {r["seq"]: r for r in got}
    assert [rows[s]["running"] for s in (1, 2, 3)] == [10.0, 30.0, 60.0]
    assert rows[2]["total"] == 60.0 and rows[4]["total"] == 5.0
    assert rows[3]["rnk"] == 3 and rows[4]["rnk"] == 1
    assert rows[1]["prev"] == 0.0 and rows[2]["prev"] == 10.0
    assert rows[3]["nxt"] is None
    assert rows[2]["win_avg"] == 20.0 and rows[4]["win_avg"] == 5.0
    with pytest.raises(PipelineError):
        run([{"$setWindowFields": {"output": {"r": {"$rank": {}}}}}], df)


def test_graph_lookup(spark):
    """$graphLookup BFS: follow manager chains to maxDepth with
    depthField; no-match rows get []."""
    people = spark.createDataFrame(
        [("eve", None), ("ann", "eve"), ("bob", "ann"), ("cat", "bob")],
        "name STRING, boss STRING",
    )
    starters = spark.createDataFrame([("cat",), ("eve",), ("zzz",)], "who STRING")
    got = translate_pipeline(
        [
            {
                "$graphLookup": {
                    "from": "people",
                    "startWith": "$who",
                    "connectFromField": "boss",
                    "connectToField": "name",
                    "as": "chain",
                    "maxDepth": 1,
                    "depthField": "d",
                }
            }
        ],
        tables={"people": people},
    )(starters)
    rows = {r["who"]: r["chain"] for r in got.collect()}
    # cat (depth 0) -> bob (depth 1); stops at maxDepth
    assert sorted((c["name"], c["d"]) for c in rows["cat"]) == [
        ("bob", 1), ("cat", 0),
    ]
    assert [(c["name"], c["d"]) for c in rows["eve"]] == [("eve", 0)]
    assert rows["zzz"] == []
    # deeper traversal reaches the root and terminates on null boss
    got2 = translate_pipeline(
        [
            {
                "$graphLookup": {
                    "from": "people",
                    "startWith": "$who",
                    "connectFromField": "boss",
                    "connectToField": "name",
                    "as": "chain",
                    "maxDepth": 10,
                }
            }
        ],
        tables={"people": people},
    )(starters)
    rows2 = {r["who"]: sorted(c["name"] for c in r["chain"]) for r in got2.collect()}
    assert rows2["cat"] == ["ann", "bob", "cat", "eve"]
    with pytest.raises(PipelineError):
        run(
            [{"$graphLookup": {"from": "p", "startWith": "$a",
                               "connectFromField": "x", "connectToField": "y",
                               "as": "z", "maxDepth": 2}}],
            starters,
        )


def test_graph_lookup_restrict_search(spark):
    """restrictSearchWithMatch filters the reachable set, not the
    start row: a restricted node breaks the chain for everyone
    above it, and the predicate applies at every depth."""
    people = spark.createDataFrame(
        [("eve", None, "x"), ("ann", "eve", "ok"),
         ("bob", "ann", "ok"), ("cat", "bob", "ok")],
        "name STRING, boss STRING, tag STRING",
    )
    starters = spark.createDataFrame([("cat",), ("eve",)], "who STRING")
    got = translate_pipeline(
        [
            {
                "$graphLookup": {
                    "from": "people",
                    "startWith": "$who",
                    "connectFromField": "boss",
                    "connectToField": "name",
                    "as": "chain",
                    "maxDepth": 10,
                    "restrictSearchWithMatch": {"tag": "ok"},
                }
            }
        ],
        tables={"people": people},
    )(starters)
    rows = {r["who"]: sorted(c["name"] for c in r["chain"]) for r in got.collect()}
    # eve is excluded by the restriction, so the walk stops at ann —
    # and eve's own start row matches nothing at all.
    assert rows["cat"] == ["ann", "bob", "cat"]
    assert rows["eve"] == []
    with pytest.raises(PipelineError):
        translate_pipeline(
            [{"$graphLookup": {"from": "people", "startWith": "$who",
                               "connectFromField": "boss",
                               "connectToField": "name", "as": "z",
                               "maxDepth": 1,
                               "restrictSearchWithMatch": ["bad"]}}],
            tables={"people": people},
        )(starters)


def test_array_n_and_ts_ops(spark, docs):
    got = run(
        [
            {
                "$project": {
                    "id": 1,
                    "sorted_desc": {"$sortArray": {"input": "$scores", "sortBy": -1}},
                    "first2": {"$firstN": {"n": 2, "input": "$scores"}},
                    "last2": {"$lastN": {"n": 2, "input": "$scores"}},
                    "min2": {"$minN": {"n": 2, "input": "$scores"}},
                    "max9": {"$maxN": {"n": 9, "input": "$scores"}},
                }
            }
        ],
        docs,
    ).collect()
    rows = {r["id"]: r for r in got}
    assert rows[1]["sorted_desc"] == [9, 5, 1]
    assert rows[1]["first2"] == [1, 5] and rows[1]["last2"] == [5, 9]
    assert rows[2]["last2"] == [2, 4]  # n >= len -> whole array
    assert rows[1]["min2"] == [1, 5] and rows[1]["max9"] == [9, 5, 1]

    ts = spark.createDataFrame([((1720890531, 7),)], "ct STRUCT<t: LONG, i: INT>")
    r = run(
        [{"$project": {"s": {"$tsSecond": "$ct"}, "i": {"$tsIncrement": "$ct"},
                       "g": {"$getField": {"field": "i", "input": "$ct"}}}}],
        ts,
    ).collect()[0]
    assert r["s"] == 1720890531 and r["i"] == 7 and r["g"] == 7


def test_fill_and_densify(spark):
    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, None), ("a", 4, None), ("b", 1, None)],
        "grp STRING, seq INT, v DOUBLE",
    )
    filled = run(
        [
            {
                "$fill": {
                    "partitionBy": "$grp",
                    "sortBy": {"seq": 1},
                    "output": {"v": {"method": "locf"}},
                }
            }
        ],
        df,
    ).collect()
    rows = {(r["grp"], r["seq"]): r["v"] for r in filled}
    assert rows[("a", 2)] == 10.0 and rows[("a", 4)] == 10.0
    assert rows[("b", 1)] is None  # nothing earlier to carry

    valued = run(
        [{"$fill": {"output": {"v": {"value": -1}}}}], df
    ).collect()
    assert {r["v"] for r in valued} == {10.0, -1.0}

    dense = run(
        [
            {
                "$densify": {
                    "field": "seq",
                    "partitionByFields": ["grp"],
                    "range": {"step": 1, "bounds": "full"},
                }
            }
        ],
        df,
    )
    got = sorted((r["grp"], r["seq"], r["v"]) for r in dense.collect())
    # spine 1..4 per partition; generated rows carry null v
    assert got == [
        ("a", 1, 10.0), ("a", 2, None), ("a", 3, None), ("a", 4, None),
        ("b", 1, None), ("b", 2, None), ("b", 3, None), ("b", 4, None),
    ]
    # explicit bounds are end-exclusive
    bounded = run(
        [{"$densify": {"field": "seq", "partitionByFields": ["grp"],
                       "range": {"step": 1, "bounds": [1, 4]}}}],
        df,
    )
    assert sorted({r["seq"] for r in bounded.collect()}) == [1, 2, 3, 4]
    # 4 survives via the left join (existing data), spine adds 1-3
    assert bounded.filter("grp = 'b' AND seq = 3").count() == 1
    with pytest.raises(PipelineError):
        run([{"$fill": {"output": {"v": {"method": "linear"}}}}], df)


def test_facet_stage(docs):
    got = run(
        [
            {
                "$facet": {
                    "by_city": [
                        {"$group": {"_id": "$addr.city", "n": {"$sum": 1}}},
                        {"$sort": {"_id": 1}},
                    ],
                    "total": [{"$count": "n"}],
                }
            }
        ],
        docs,
    ).collect()
    assert len(got) == 1
    row = got[0]
    assert [(f["_id"], f["n"]) for f in row["by_city"]] == [("ber", 2), ("muc", 1)]
    assert row["total"][0]["n"] == 3
    with pytest.raises(PipelineError):
        run([{"$facet": {}}], docs)


def test_match_predicates_reach_parquet_scan(spark, tmp_path):
    """Translated $match predicates must appear as PushedFilters in
    the parquet scan (the optimization the reference delegates to
    mongod, delivered here by Catalyst) — guards against stage
    compositions that break pushdown."""
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(i, "a" if i % 2 else "b", float(i)) for i in range(100)],
        "id INT, cat STRING, v DOUBLE",
    ).write.parquet(path)
    df = run(
        [
            {"$match": {"cat": "a", "v": {"$gte": 10}}},
            {"$project": {"id": 1, "v": 1}},
        ],
        spark.read.parquet(path),
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    assert "EqualTo(cat,a)" in pushed and "GreaterThanOrEqual(v,10" in pushed
    # column pruning: the scan reads only the referenced columns
    read_schema = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "cat" in read_schema and "id" in read_schema


def test_nested_unwind_dotted_set_replace_expr(spark):
    df = spark.createDataFrame(
        [(1, {"items": [10, 20], "who": "ann"}), (2, {"items": [30], "who": "bob"})],
        "id INT, o STRUCT<items: ARRAY<INT>, who: STRING>",
    )
    # nested $unwind rewrites the element back at its dotted position
    got = run([{"$unwind": "$o.items"}], df).collect()
    assert sorted((r["id"], r["o"]["items"], r["o"]["who"]) for r in got) == [
        (1, 10, "ann"), (1, 20, "ann"), (2, 30, "bob"),
    ]
    # dotted $set writes into the nested struct
    got = run([{"$set": {"o.who": {"$toUpper": "$o.who"}}}], df).collect()
    assert {r["o"]["who"] for r in got} == {"ANN", "BOB"}
    # expression-form $replaceRoot with a document literal
    got = run(
        [{"$replaceRoot": {"newRoot": {"name": "$o.who", "n": {"$size": "$o.items"}}}}],
        df,
    ).collect()
    assert sorted((r["name"], r["n"]) for r in got) == [("ann", 2), ("bob", 1)]


def test_out_stage(spark, docs, tmp_path):
    """$out: terminal overwrite write to the resolved sink; the
    returned frame reads back the written data."""
    path = str(tmp_path / "out")
    got = translate_pipeline(
        [{"$match": {"id": {"$gte": 2}}}, {"$project": {"id": 1, "name": 1}},
         {"$out": "dest"}],
        sinks={"dest": path},
    )(docs)
    assert sorted(r["id"] for r in got.collect()) == [2, 3]
    assert sorted(
        r["id"] for r in read_versioned_sink(spark, path).collect()
    ) == [2, 3]
    # second run REPLACES (Mongo $out semantics), not appends
    translate_pipeline(
        [{"$match": {"id": 1}}, {"$out": "dest"}], sinks={"dest": path}
    )(docs)
    assert [r["id"] for r in read_versioned_sink(spark, path).collect()] == [1]
    with pytest.raises(PipelineError):
        translate_pipeline([{"$out": "dest"}, {"$match": {}}], sinks={"dest": path})
    with pytest.raises(PipelineError):
        translate_pipeline([{"$out": "nope"}])(docs)


def test_push_addtoset_keep_nulls(spark):
    """Mongo $push/$addToSet keep null members (collect_list/set drop
    them) — preserved via struct wrapping."""
    df = spark.createDataFrame(
        [("a", 1), ("a", None), ("a", 1), ("b", None)], "k STRING, v INT"
    )
    got = {
        r["_id"]: r
        for r in run(
            [
                {
                    "$group": {
                        "_id": "$k",
                        "all": {"$push": "$v"},
                        "uniq": {"$addToSet": "$v"},
                    }
                }
            ],
            df,
        ).collect()
    }
    assert sorted(got["a"]["all"], key=lambda x: (x is None, x)) == [1, 1, None]
    assert got["a"]["uniq"] == [1, None]  # sorted, null last
    assert got["b"]["all"] == [None] and got["b"]["uniq"] == [None]


def test_lookup_null_safe_match(spark):
    """Mongo $lookup matches null localField to null foreignField."""
    left = spark.createDataFrame([(1, None), (2, 10)], "id INT, fk INT")
    right = spark.createDataFrame([(100, None), (101, 10)], "rid INT, k INT")
    got = {
        r["id"]: sorted(o["rid"] for o in r["m"])
        for r in translate_pipeline(
            [{"$lookup": {"from": "r", "localField": "fk",
                          "foreignField": "k", "as": "m"}}],
            tables={"r": right},
        )(left).collect()
    }
    assert got == {1: [100], 2: [101]}


def test_root_system_variable(spark):
    df = spark.createDataFrame([("a", 1), ("a", 2), ("b", 3)], "k STRING, v INT")
    got = {
        r["_id"]: r["docs"]
        for r in run(
            [{"$group": {"_id": "$k", "docs": {"$push": "$$ROOT"}}}], df
        ).collect()
    }
    assert sorted((d["k"], d["v"]) for d in got["a"]) == [("a", 1), ("a", 2)]
    assert [(d["k"], d["v"]) for d in got["b"]] == [("b", 3)]
    # $addFields can embed the whole document; $$CURRENT aliases $$ROOT
    got = run([{"$addFields": {"self_v": {"$getField": {"field": "v", "input": "$$CURRENT"}}}}], df)
    assert {r["self_v"] for r in got.collect()} == {1, 2, 3}


def test_merge_stage_upsert(spark, tmp_path):
    """$merge upsert semantics on a parquet target: replace matched,
    insert unmatched; keepExisting leaves matched rows untouched."""
    path = str(tmp_path / "m")
    base = spark.createDataFrame(
        [(1, "old1"), (2, "old2")], "_id INT, val STRING"
    )
    base.write.parquet(path)

    incoming = spark.createDataFrame(
        [(2, "NEW2"), (3, "NEW3")], "_id INT, val STRING"
    )
    got = translate_pipeline(
        [{"$merge": {"into": "t", "on": "_id"}}], sinks={"t": path}
    )(incoming)
    rows = {r["_id"]: r["val"] for r in got.collect()}
    assert rows == {1: "old1", 2: "NEW2", 3: "NEW3"}
    # persisted: re-read shows the merged state
    assert {
        r["_id"]: r["val"]
        for r in read_versioned_sink(spark, path).collect()
    } == rows

    # keepExisting + discard leaves the target unchanged
    incoming2 = spark.createDataFrame([(3, "XXX"), (4, "YYY")], "_id INT, val STRING")
    got2 = translate_pipeline(
        [{"$merge": {"into": "t", "on": "_id",
                     "whenMatched": "keepExisting",
                     "whenNotMatched": "discard"}}],
        sinks={"t": path},
    )(incoming2)
    assert {r["_id"]: r["val"] for r in got2.collect()} == rows


def test_merge_stage_field_level(spark, tmp_path):
    """whenMatched: merge — non-null incoming fields override, null
    incoming fields keep the stored value; old-only and new-only
    columns pass through."""
    path = str(tmp_path / "fm")
    base = spark.createDataFrame(
        [(1, "a1", 10), (2, "a2", 20)], "_id INT, a STRING, b INT"
    )
    base.write.parquet(path)

    incoming = spark.createDataFrame(
        [(2, None, 99, "x2"), (3, "a3", 30, "x3")],
        "_id INT, a STRING, b INT, c STRING",
    )
    got = translate_pipeline(
        [{"$merge": {"into": "t", "on": "_id", "whenMatched": "merge"}}],
        sinks={"t": path},
    )(incoming)
    rows = {r["_id"]: (r["a"], r["b"], r["c"]) for r in got.collect()}
    assert rows[1] == ("a1", 10, None)      # untouched old row
    assert rows[2] == ("a2", 99, "x2")      # null a kept old, b overrode
    assert rows[3] == ("a3", 30, "x3")      # unmatched inserted
    # merge + discard: only matched rows change
    incoming2 = spark.createDataFrame(
        [(3, "ZZZ", None, None), (4, "new4", 4, "x4")],
        "_id INT, a STRING, b INT, c STRING",
    )
    got2 = translate_pipeline(
        [{"$merge": {"into": "t", "on": "_id", "whenMatched": "merge",
                     "whenNotMatched": "discard"}}],
        sinks={"t": path},
    )(incoming2)
    rows2 = {r["_id"]: (r["a"], r["b"], r["c"]) for r in got2.collect()}
    assert set(rows2) == {1, 2, 3}          # no id 4
    assert rows2[3] == ("ZZZ", 30, "x3")    # a overrode, b/c kept


def test_densify_date_unit(spark):
    """$densify with a date unit builds a timestamp spine (daily) per
    partition; existing rows survive, gaps appear as stubs."""
    df = spark.createDataFrame(
        [("a", "2024-01-01 00:00:00", 1.0), ("a", "2024-01-04 00:00:00", 2.0)],
        "k STRING, d STRING, v DOUBLE",
    ).selectExpr("k", "cast(d as timestamp) d", "v")
    got = run(
        [
            {
                "$densify": {
                    "field": "d",
                    "partitionByFields": ["k"],
                    "range": {"step": 1, "unit": "day", "bounds": "full"},
                }
            }
        ],
        df,
    ).collect()
    days = sorted(str(r["d"])[:10] for r in got)
    assert days == ["2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04"]
    vals = {str(r["d"])[:10]: r["v"] for r in got}
    assert vals["2024-01-01"] == 1.0 and vals["2024-01-02"] is None


def test_set_window_fields_range_frame(spark):
    """window.range frames bound by VALUE distance on the sort key
    (rangeBetween), not row position."""
    df = spark.createDataFrame(
        [("a", 1, 1.0), ("a", 2, 2.0), ("a", 10, 100.0)],
        "grp STRING, pos INT, v DOUBLE",
    )
    got = {
        r["pos"]: r["near_sum"]
        for r in run(
            [
                {
                    "$setWindowFields": {
                        "partitionBy": "$grp",
                        "sortBy": {"pos": 1},
                        "output": {
                            "near_sum": {
                                "$sum": "$v",
                                "window": {"range": [-1, 1]},
                            }
                        },
                    }
                }
            ],
            df,
        ).collect()
    }
    # pos=1: rows with pos in [0,2] -> 1+2; pos=10: only itself
    assert got == {1: 3.0, 2: 3.0, 10: 100.0}
    with pytest.raises(PipelineError):
        run(
            [{"$setWindowFields": {"sortBy": {"pos": -1},
                                   "output": {"x": {"$sum": "$v",
                                                    "window": {"range": [-1, 1]}}}}}],
            df,
        )


def test_trim_chars_option(spark):
    df = spark.createDataFrame([("xxhixx",), ("  sp  ",)], "t STRING")
    got = run(
        [
            {
                "$project": {
                    "b": {"$trim": {"input": "$t", "chars": "x"}},
                    "l": {"$ltrim": {"input": "$t", "chars": "x"}},
                    "r": {"$rtrim": {"input": "$t", "chars": "x"}},
                    "ws": {"$trim": {"input": "$t"}},
                }
            }
        ],
        df,
    ).collect()
    rows = {r["ws"]: r for r in got}
    assert rows["xxhixx"]["b"] == "hi"
    assert rows["xxhixx"]["l"] == "hixx" and rows["xxhixx"]["r"] == "xxhi"
    assert rows["sp"]["ws"] == "sp"


def test_densify_step_not_dividing_span(spark):
    """Explicit [lo, hi) bounds with a step that does NOT divide the
    span must still emit the last in-range spine value: [0, 10) step 3
    yields 0,3,6,9 (Mongo), not 0,3,6 (the old end = hi - step form)."""
    df = spark.createDataFrame([(0, "x")], "seq INT, tag STRING")
    got = run(
        [{"$densify": {"field": "seq", "range": {"step": 3, "bounds": [0, 10]}}}],
        df,
    )
    assert sorted(r["seq"] for r in got.collect()) == [0, 3, 6, 9]
    # aligned span is unchanged (hi itself stays excluded)
    aligned = run(
        [{"$densify": {"field": "seq", "range": {"step": 3, "bounds": [0, 9]}}}],
        df,
    )
    assert sorted(r["seq"] for r in aligned.collect()) == [0, 3, 6]


def test_densify_date_step_not_dividing_span(spark):
    """Same off-by-step guard on the date-unit branch: a 2-day step over
    a 5-day window [1st, 6th) emits the 1st, 3rd AND 5th."""
    df = spark.createDataFrame(
        [("2024-01-01 00:00:00",)], "d STRING"
    ).selectExpr("cast(d as timestamp) d")
    got = run(
        [
            {
                "$densify": {
                    "field": "d",
                    "range": {
                        "step": 2,
                        "unit": "day",
                        "bounds": ["2024-01-01 00:00:00", "2024-01-06 00:00:00"],
                    },
                }
            }
        ],
        df,
    )
    days = sorted(str(r["d"])[:10] for r in got.collect())
    assert days == ["2024-01-01", "2024-01-03", "2024-01-05"]


def test_graph_lookup_negative_max_depth(spark):
    df = spark.createDataFrame([(1, 2)], "a INT, b INT")
    with pytest.raises(PipelineError, match="maxDepth"):
        run(
            [{"$graphLookup": {"from": "p", "startWith": "$a",
                               "connectFromField": "b", "connectToField": "a",
                               "as": "chain", "maxDepth": -1}}],
            df,
        )


def test_count_and_global_group_empty_input(spark):
    """Mongo emits NO document from $count / {$group: {_id: null}} when
    the input is empty — not a zero/default row."""
    df = spark.createDataFrame([(1,)], "v INT").where("v > 99")
    assert run([{"$count": "n"}], df).collect() == []
    assert run(
        [{"$group": {"_id": None, "total": {"$sum": "$v"}}}], df
    ).collect() == []
    # non-empty inputs still produce the single summary document
    full = spark.createDataFrame([(1,), (2,)], "v INT")
    assert run([{"$count": "n"}], full).collect()[0]["n"] == 2
    g = run([{"$group": {"_id": None, "total": {"$sum": "$v"}}}], full).collect()
    assert len(g) == 1 and g[0]["total"] == 3 and g[0]["_id"] is None


def test_sort_array_null_placement(spark):
    """BSON order ranks null lowest: ascending puts nulls FIRST,
    descending puts them LAST (Spark's bare array_sort is the
    opposite on the descending side)."""
    df = spark.createDataFrame(
        [([3, None, 1, None, 2],)], "arr ARRAY<INT>"
    )
    got = run(
        [
            {
                "$project": {
                    "asc": {"$sortArray": {"input": "$arr", "sortBy": 1}},
                    "desc": {"$sortArray": {"input": "$arr", "sortBy": -1}},
                }
            }
        ],
        df,
    ).collect()[0]
    assert got["asc"] == [None, None, 1, 2, 3]
    assert got["desc"] == [3, 2, 1, None, None]


def test_shift_default_must_be_literal(spark):
    df = spark.createDataFrame([("a", 1, 1.0), ("a", 2, 2.0)],
                               "grp STRING, pos INT, v DOUBLE")
    with pytest.raises(PipelineError, match=r"\$shift default"):
        run(
            [
                {
                    "$setWindowFields": {
                        "partitionBy": "$grp",
                        "sortBy": {"pos": 1},
                        "output": {
                            "nxt": {
                                "$shift": {
                                    "output": "$v",
                                    "by": 1,
                                    "default": {"$add": [1, 2]},
                                }
                            }
                        },
                    }
                }
            ],
            df,
        )
    # scalar literal defaults still work
    ok = run(
        [
            {
                "$setWindowFields": {
                    "partitionBy": "$grp",
                    "sortBy": {"pos": 1},
                    "output": {
                        "nxt": {"$shift": {"output": "$v", "by": 1,
                                           "default": -1.0}}
                    },
                }
            }
        ],
        df,
    ).collect()
    assert {r["pos"]: r["nxt"] for r in ok} == {1: 2.0, 2: -1.0}


def test_sample_deterministic(spark):
    """$sample is a declared-deterministic deviation: seeded md5 rank,
    stable across runs; size >= input returns everything."""
    df = spark.createDataFrame([(i,) for i in range(50)], "_id INT")
    got1 = [r["_id"] for r in run([{"$sample": {"size": 5, "seed": 7}}], df).collect()]
    got2 = [r["_id"] for r in run([{"$sample": {"size": 5, "seed": 7}}], df).collect()]
    assert len(got1) == 5 and got1 == got2
    other = [r["_id"] for r in run([{"$sample": {"size": 5, "seed": 8}}], df).collect()]
    assert set(other) != set(got1)  # a different seed reshuffles
    assert run([{"$sample": {"size": 99}}], df).count() == 50
    # explicit ranking key on a frame without _id
    named = spark.createDataFrame([(1, "a"), (2, "b")], "k INT, v STRING")
    assert run([{"$sample": {"size": 1, "by": "$k"}}], named).count() == 1
    with pytest.raises(PipelineError, match=r"\$sample"):
        run([{"$sample": {"size": -1}}], df)
    with pytest.raises(PipelineError, match="_id"):
        run([{"$sample": {"size": 1}}], named)


def test_redact_descend(spark):
    """$$DESCEND re-evaluates the expression per level: prune-marked
    embedded documents null out (static schema), prune-marked array
    elements are removed, scalars survive."""
    df = spark.createDataFrame(
        [
            (1, 1, (0, 100), [(0, 10), (4, 20)]),
            (2, 1, (4, 200), [(1, 30)]),
            (9, 9, (0, 300), [(0, 40)]),  # top-level PRUNE
        ],
        "doc_id INT, level INT, sub STRUCT<level: INT, secret: INT>, "
        "items ARRAY<STRUCT<level: INT, secret: INT>>",
    )
    got = {
        r["doc_id"]: r
        for r in run(
            [
                {
                    "$redact": {
                        "$cond": [
                            {"$lt": ["$level", 3]},
                            "$$DESCEND",
                            "$$PRUNE",
                        ]
                    }
                }
            ],
            df,
        ).collect()
    }
    assert set(got) == {1, 2}  # doc 9 pruned at the root
    assert got[1]["sub"] == (0, 100)  # descended, level 0 < 3 kept
    assert got[2]["sub"] is None  # level 4 pruned -> NULL field
    assert [tuple(x) for x in got[1]["items"]] == [(0, 10)]  # element removed
    assert [tuple(x) for x in got[2]["items"]] == [(1, 30)]


def test_redact_descend_missing_field_is_null(spark):
    """A field referenced by the redact expression but absent at a
    nesting level evaluates as null (Mongo's missing-field behavior):
    here `flag` exists only at the root, so the $eq check holds only
    there and the subdocument prunes."""
    df = spark.createDataFrame(
        [(1, True, (5,))],
        "doc_id INT, flag BOOLEAN, sub STRUCT<x: INT>",
    )
    got = run(
        [
            {
                "$redact": {
                    "$cond": [
                        {"$eq": ["$flag", True]},
                        "$$DESCEND",
                        "$$PRUNE",
                    ]
                }
            }
        ],
        df,
    ).collect()
    assert len(got) == 1 and got[0]["sub"] is None


def test_redact_keep_stops_recursion(spark):
    """$$KEEP keeps the whole subtree even when deeper levels would
    have pruned."""
    df = spark.createDataFrame(
        [(1, 0, (9, (9,)))],
        "doc_id INT, level INT, sub STRUCT<level: INT, inner2: STRUCT<level: INT>>",
    )
    got = run(
        [
            {
                "$redact": {
                    "$cond": [
                        {"$eq": ["$level", 0]},
                        "$$DESCEND",
                        {
                            "$cond": [
                                {"$eq": ["$level", 9]},
                                "$$KEEP",
                                "$$PRUNE",
                            ]
                        },
                    ]
                }
            }
        ],
        df,
    ).collect()
    # root descends; sub.level==9 -> KEEP: inner2 survives untouched
    assert got[0]["sub"] == (9, (9,))


def test_out_merge_crash_leaves_previous_version(spark, tmp_path):
    """The versioned-manifest commit contract: a write that dies
    mid-materialization (here: an executor-side exception while the
    new version is being written) leaves the PREVIOUS committed
    version fully readable — unlike overwrite/rmtree+rename, which
    destroy the target before the new data is safe."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import IntegerType

    path = str(tmp_path / "vt")
    base = spark.createDataFrame([(1, "ok1"), (2, "ok2")], "_id INT, val STRING")
    translate_pipeline([{"$out": "t"}], sinks={"t": path})(base)
    assert {
        r["_id"]: r["val"] for r in read_versioned_sink(spark, path).collect()
    } == {1: "ok1", 2: "ok2"}

    def boom(v):
        raise RuntimeError("injected mid-write crash")

    bomb = base.withColumn("val", F.udf(boom, IntegerType())("_id"))
    with pytest.raises(Exception):
        translate_pipeline([{"$out": "t"}], sinks={"t": path})(bomb)
    # the failed commit is invisible: previous version intact
    assert {
        r["_id"]: r["val"] for r in read_versioned_sink(spark, path).collect()
    } == {1: "ok1", 2: "ok2"}

    # same for $merge: a crashed upsert leaves the target untouched...
    incoming = spark.createDataFrame([(2, "NEW")], "_id INT, val STRING")
    bomb2 = incoming.withColumn("val", F.udf(boom, IntegerType())("_id"))
    with pytest.raises(Exception):
        translate_pipeline(
            [{"$merge": {"into": "t", "on": "_id"}}], sinks={"t": path}
        )(bomb2)
    assert {
        r["_id"]: r["val"] for r in read_versioned_sink(spark, path).collect()
    } == {1: "ok1", 2: "ok2"}

    # ...and the NEXT commit succeeds and GCs the crash leftovers
    translate_pipeline(
        [{"$merge": {"into": "t", "on": "_id"}}], sinks={"t": path}
    )(incoming)
    assert {
        r["_id"]: r["val"] for r in read_versioned_sink(spark, path).collect()
    } == {1: "ok1", 2: "NEW"}
    import os

    entries = set(os.listdir(path))
    assert "_manifest" in entries
    # current + retained predecessor (one-deep retention window);
    # the crash-leftover dirs are gone
    assert len([e for e in entries if e.startswith("v-")]) == 2
    assert {
        r["_id"]: r["val"]
        for r in read_versioned_sink(spark, path, version=-1).collect()
    } == {1: "ok1", 2: "ok2"}


def test_trig_log_bitwise_ops(spark):
    import math

    df = spark.createDataFrame([(0.5, 8.0, 12, 10)], "x DOUBLE, y DOUBLE, a INT, b INT")
    got = run(
        [
            {
                "$project": {
                    "s": {"$sin": "$x"},
                    "at2": {"$atan2": ["$x", "$y"]},
                    "lg": {"$log": ["$y", 2]},
                    "deg": {"$radiansToDegrees": {"$degreesToRadians": 180}},
                    "band": {"$bitAnd": ["$a", "$b"]},
                    "bor": {"$bitOr": ["$a", "$b"]},
                    "bxor": {"$bitXor": ["$a", "$b"]},
                    "bnot": {"$bitNot": "$a"},
                }
            }
        ],
        df,
    ).collect()[0]
    assert abs(got["s"] - math.sin(0.5)) < 1e-12
    assert abs(got["at2"] - math.atan2(0.5, 8.0)) < 1e-12
    assert abs(got["lg"] - 3.0) < 1e-12
    assert abs(got["deg"] - 180.0) < 1e-9
    assert got["band"] == 8 and got["bor"] == 14
    assert got["bxor"] == 6 and got["bnot"] == -13


def test_string_replace_and_casecmp(spark):
    df = spark.createDataFrame([("a.b.a.c",)], "t STRING")
    got = run(
        [
            {
                "$project": {
                    "all": {"$replaceAll": {"input": "$t", "find": "a.",
                                            "replacement": "X"}},
                    "one": {"$replaceOne": {"input": "$t", "find": "a.",
                                            "replacement": "X"}},
                    "none": {"$replaceOne": {"input": "$t", "find": "zz",
                                             "replacement": "X"}},
                    "cmp_lt": {"$strcasecmp": ["$t", "B"]},
                    "cmp_eq": {"$strcasecmp": ["A.B.A.C", "$t"]},
                }
            }
        ],
        df,
    ).collect()[0]
    # the find string is a LITERAL, not a regex ('.' must not match-any)
    assert got["all"] == "Xb.Xc"
    assert got["one"] == "Xb.a.c"
    assert got["none"] == "a.b.a.c"
    assert got["cmp_lt"] == -1 and got["cmp_eq"] == 0


def test_set_predicates_and_element_true(spark):
    df = spark.createDataFrame(
        [([1, 2, 2], [2, 1, 3], [True, False], [0, 0])],
        "a ARRAY<INT>, b ARRAY<INT>, bools ARRAY<BOOLEAN>, zeros ARRAY<INT>",
    )
    got = run(
        [
            {
                "$project": {
                    "sub": {"$setIsSubset": ["$a", "$b"]},
                    "sup": {"$setIsSubset": ["$b", "$a"]},
                    "eq_dup": {"$setEquals": ["$a", [2, 1]]},
                    "neq": {"$setEquals": ["$a", "$b"]},
                    "any_t": {"$anyElementTrue": "$bools"},
                    "all_t": {"$allElementsTrue": "$bools"},
                    "any_z": {"$anyElementTrue": "$zeros"},
                }
            }
        ],
        df,
    ).collect()[0]
    assert got["sub"] is True and got["sup"] is False
    assert got["eq_dup"] is True and got["neq"] is False  # set semantics
    assert got["any_t"] is True and got["all_t"] is False
    assert got["any_z"] is False  # 0 is falsy


def test_iso_week_year_and_date_to_parts(spark):
    df = spark.createDataFrame(
        [("2016-01-01 10:20:30.123",), ("2024-12-30 00:00:00",), ("2024-06-15 00:00:00",)],
        "d STRING",
    ).selectExpr("cast(d as timestamp) d")
    got = {
        str(r["d"])[:10]: r
        for r in run(
            [
                {
                    "$project": {
                        "d": 1,
                        "iwy": {"$isoWeekYear": "$d"},
                        "parts": {"$dateToParts": {"date": "$d"}},
                    }
                }
            ],
            df,
        ).collect()
    }
    # 2016-01-01 is a Friday in ISO week 53 of 2015
    assert got["2016-01-01"]["iwy"] == 2015
    # 2024-12-30 is the Monday of ISO week 1 of 2025
    assert got["2024-12-30"]["iwy"] == 2025
    assert got["2024-06-15"]["iwy"] == 2024
    p = got["2016-01-01"]["parts"]
    assert (p["year"], p["month"], p["day"], p["hour"], p["minute"],
            p["second"], p["millisecond"]) == (2016, 1, 1, 10, 20, 30, 123)


def test_cmp_week_and_byte_string_ops(spark):
    df = spark.createDataFrame(
        [(1, 5, "héllo wörld", "2024-01-01"), (7, 3, "abc", "2024-01-07"),
         (None, 2, "abc", "2024-12-31")],
        "a INT, b INT, t STRING, d STRING",
    )
    got = {
        r["b"]: r
        for r in run(
            [
                {
                    "$project": {
                        "b": 1,
                        "c": {"$cmp": ["$a", "$b"]},
                        "wk": {"$week": {"$toDate": "$d"}},
                        "blen": {"$strLenBytes": "$t"},
                        "clen": {"$strLenCP": "$t"},
                        "sb": {"$substrBytes": ["$t", 0, 3]},
                        "ib": {"$indexOfBytes": ["$t", "w"]},
                        "miss": {"$indexOfBytes": ["$t", "zz"]},
                    }
                }
            ],
            df,
        ).collect()
    }
    # $cmp: 1<5 -> -1; 7>3 -> 1; null ranks lowest -> -1
    assert got[5]["c"] == -1 and got[3]["c"] == 1 and got[2]["c"] == -1
    # strftime %U: 2024-01-01 (Mon) wk 0; 01-07 first Sunday wk 1; 12-31 wk 52
    assert (got[5]["wk"], got[3]["wk"], got[2]["wk"]) == (0, 1, 52)
    assert got[5]["blen"] == 13 and got[5]["clen"] == 11  # é/ö are 2 bytes
    assert got[3]["sb"] == "abc"
    # 'w' sits after "héllo " = 5 chars -> 7 bytes
    assert got[5]["ib"] == 7 and got[5]["miss"] == -1


def test_merge_set_unset_field_ops(spark):
    df = spark.createDataFrame(
        [(1, {"x": 1, "y": 2}, {"y": 9, "z": 3}), (2, {"x": 4}, None)],
        "id INT, m1 MAP<STRING,INT>, m2 MAP<STRING,INT>",
    )
    got = {
        r["id"]: r
        for r in run(
            [
                {
                    "$project": {
                        "id": 1,
                        "merged": {"$mergeObjects": ["$m1", "$m2"]},
                        "set": {"$setField": {"field": "y", "input": "$m1",
                                              "value": 99}},
                        "unset": {"$unsetField": {"field": "x", "input": "$m1"}},
                    }
                }
            ],
            df,
        ).collect()
    }
    assert got[1]["merged"] == {"x": 1, "y": 9, "z": 3}  # later doc wins on y
    assert got[2]["merged"] == {"x": 4}  # null operand ignored
    assert got[1]["set"] == {"x": 1, "y": 99}
    assert got[2]["set"] == {"x": 4, "y": 99}  # absent field appended
    assert got[1]["unset"] == {"y": 2}


def test_regex_find_ops(spark):
    df = spark.createDataFrame(
        [(1, "foo12 bar34"), (2, "nothing")], "id INT, t STRING"
    )
    got = {
        r["id"]: r
        for r in run(
            [
                {
                    "$project": {
                        "id": 1,
                        "f": {"$regexFind": {"input": "$t", "regex": r"[a-z]+\d+"}},
                        "all": {"$regexFindAll": {"input": "$t",
                                                  "regex": r"[a-z]+\d+"}},
                        "ci": {"$regexFind": {"input": "$t", "regex": "FOO",
                                              "options": "i"}},
                    }
                }
            ],
            df,
        ).collect()
    }
    assert got[1]["f"]["match"] == "foo12" and got[1]["f"]["idx"] == 0
    assert got[1]["f"]["captures"] == []
    assert got[2]["f"] is None  # no match -> null document
    assert [(d["match"], d["idx"]) for d in got[1]["all"]] == [
        ("foo12", 0), ("bar34", 6),
    ]
    assert got[2]["all"] == []
    assert got[1]["ci"]["match"] == "foo"


def test_regex_find_captures(spark):
    """Capture groups in $regexFind/$regexFindAll: per-match captures
    arrays, idx offsets for repeated matches, and group counting for
    Java-only pattern syntax (possessive quantifier breaks Python's
    re, exercising the fallback scanner)."""
    df = spark.createDataFrame(
        [(1, "a=1, b=22, a=333"), (2, "none here")], "id INT, t STRING"
    )
    got = {
        r["id"]: r
        for r in run(
            [
                {
                    "$project": {
                        "id": 1,
                        "f": {"$regexFind": {
                            "input": "$t", "regex": r"([ab])=(\d+)"}},
                        "all": {"$regexFindAll": {
                            "input": "$t", "regex": r"([ab])=(\d+)"}},
                        "poss": {"$regexFind": {
                            "input": "$t", "regex": r"(\w++)=(\d++)"}},
                    }
                }
            ],
            df,
        ).collect()
    }
    assert got[1]["f"]["match"] == "a=1"
    assert got[1]["f"]["captures"] == ["a", "1"]
    assert [(d["match"], d["idx"], list(d["captures"]))
            for d in got[1]["all"]] == [
        ("a=1", 0, ["a", "1"]),
        ("b=22", 5, ["b", "22"]),
        ("a=333", 11, ["a", "333"]),
    ]
    assert got[2]["all"] == []
    # possessive quantifiers: Python re rejects them, the scanner
    # still finds 2 capturing groups and the Java engine matches
    assert got[1]["poss"]["captures"] == ["a", "1"]
    # groups: the outer (a...) and the named (?<nm>b); (?:x) is
    # non-capturing, \( is escaped, [()] is a class
    assert _regex_group_count(r"(?i)(a(?:x)(?<nm>b))|\(c\)|[()]") == 2


def test_stddev_array_expressions(spark):
    import math

    df = spark.createDataFrame(
        [(1, [2.0, 4.0, 4.0, 4.0, 5.0, 5.0, 7.0, 9.0]), (2, [3.0]), (3, [])],
        "id INT, v ARRAY<DOUBLE>",
    )
    got = {
        r["id"]: r
        for r in run(
            [
                {
                    "$project": {
                        "id": 1,
                        "pop": {"$stdDevPop": "$v"},
                        "samp": {"$stdDevSamp": "$v"},
                    }
                }
            ],
            df,
        ).collect()
    }
    assert abs(got[1]["pop"] - 2.0) < 1e-12
    assert abs(got[1]["samp"] - math.sqrt(32.0 / 7.0)) < 1e-12
    assert got[2]["pop"] == 0.0 and got[2]["samp"] is None  # n<2 -> null samp
    assert got[3]["pop"] is None and got[3]["samp"] is None


def test_window_locf_and_linear_fill(spark):
    df = spark.createDataFrame(
        [("a", 0, 10.0), ("a", 1, None), ("a", 2, None), ("a", 4, 40.0),
         ("a", 5, None), ("b", 0, None), ("b", 1, 7.0)],
        "g STRING, x INT, v DOUBLE",
    )
    got = {
        (r["g"], r["x"]): r
        for r in run(
            [
                {
                    "$setWindowFields": {
                        "partitionBy": "$g",
                        "sortBy": {"x": 1},
                        "output": {
                            "carried": {"$locf": "$v"},
                            "lin": {"$linearFill": "$v"},
                        },
                    }
                }
            ],
            df,
        ).collect()
    }
    assert got[("a", 1)]["carried"] == 10.0 and got[("a", 2)]["carried"] == 10.0
    assert got[("a", 5)]["carried"] == 40.0
    # interpolation is weighted by the sort key, not the row number:
    # x=1 -> 10 + 30 * (1-0)/(4-0) = 17.5 ; x=2 -> 25.0
    assert abs(got[("a", 1)]["lin"] - 17.5) < 1e-12
    assert abs(got[("a", 2)]["lin"] - 25.0) < 1e-12
    assert got[("a", 5)]["lin"] is None  # trailing null stays null
    assert got[("b", 0)]["lin"] is None  # leading null stays null
    assert got[("b", 1)]["lin"] == 7.0


def test_window_derivative_integral_covariance(spark):
    df = spark.createDataFrame(
        [("a", 0.0, 0.0), ("a", 2.0, 4.0), ("a", 4.0, 16.0), ("b", 1.0, 3.0)],
        "g STRING, x DOUBLE, y DOUBLE",
    )
    got = {
        (r["g"], r["x"]): r
        for r in run(
            [
                {
                    "$setWindowFields": {
                        "partitionBy": "$g",
                        "sortBy": {"x": 1},
                        "output": {
                            "rate": {
                                "$derivative": {"input": "$y"},
                                "window": {"documents": [-1, 0]},
                            },
                            "area": {
                                "$integral": {"input": "$y"},
                                "window": {"documents": ["unbounded", 0]},
                            },
                            "cov": {"$covariancePop": ["$x", "$y"]},
                        },
                    }
                }
            ],
            df,
        ).collect()
    }
    # rate over [-1, 0]: (4-0)/(2-0)=2 ; (16-4)/(4-2)=6 ; first row null
    assert got[("a", 0.0)]["rate"] is None
    assert got[("a", 2.0)]["rate"] == 2.0 and got[("a", 4.0)]["rate"] == 6.0
    # trapezoids: [0,2]x[0,4] -> 4 ; [2,4]x[4,16] -> 20 ; cumulative 0,4,24
    assert got[("a", 0.0)]["area"] == 0.0
    assert got[("a", 2.0)]["area"] == 4.0 and got[("a", 4.0)]["area"] == 24.0
    # covar_pop over x=[0,2,4], y=[0,4,16]: E[xy]-E[x]E[y] = 32/3 - 40/9
    assert abs(got[("a", 0.0)]["cov"] - 32.0 / 3.0) < 1e-9  # E[xy]-E[x]E[y]
    assert got[("b", 1.0)]["cov"] == 0.0  # single point


def test_window_exp_moving_avg(spark):
    df = spark.createDataFrame(
        [("a", 0, 2.0), ("a", 1, 4.0), ("a", 2, None), ("a", 3, 8.0),
         ("b", 0, 5.0)],
        "g STRING, x INT, v DOUBLE",
    )
    got = {
        (r["g"], r["x"]): r
        for r in run(
            [
                {
                    "$setWindowFields": {
                        "partitionBy": "$g",
                        "sortBy": {"x": 1},
                        "output": {
                            "ema": {"$expMovingAvg": {"input": "$v", "N": 3}},
                        },
                    }
                }
            ],
            df,
        ).collect()
    }
    # alpha = 2/(3+1) = 0.5: 2 ; 0.5*4+0.5*2=3 ; null skipped ;
    # 0.5*8+0.5*3=5.5
    assert got[("a", 0)]["ema"] == 2.0 and got[("a", 1)]["ema"] == 3.0
    assert got[("a", 2)]["ema"] is None
    assert got[("a", 3)]["ema"] == 5.5
    assert got[("b", 0)]["ema"] == 5.0
    with pytest.raises(PipelineError):
        run(
            [{"$setWindowFields": {"sortBy": {"x": 1}, "output": {
                "e": {"$expMovingAvg": {"input": "$v", "N": 3, "alpha": 0.5}}}}}],
            df,
        )


def test_fill_linear_method(spark):
    df = spark.createDataFrame(
        [(0, 0.0), (1, None), (3, None), (4, 8.0), (6, None)],
        "x INT, v DOUBLE",
    )
    got = {
        r["x"]: r["v"]
        for r in run(
            [{"$fill": {"sortBy": {"x": 1}, "output": {"v": {"method": "linear"}}}}],
            df,
        ).collect()
    }
    assert got[0] == 0.0 and got[4] == 8.0
    assert abs(got[1] - 2.0) < 1e-12 and abs(got[3] - 6.0) < 1e-12
    assert got[6] is None


def test_group_top_bottom_accumulators(spark):
    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 30.0), ("a", 3, 20.0),
         ("b", 1, 5.0), ("b", 2, None)],
        "g STRING, seq INT, v DOUBLE",
    )
    got = {
        r["_id"]: r
        for r in run(
            [
                {
                    "$group": {
                        "_id": "$g",
                        "best": {"$top": {"output": "$seq",
                                          "sortBy": {"v": -1}}},
                        "worst": {"$bottom": {"output": "$seq",
                                              "sortBy": {"v": -1}}},
                        "top2": {"$topN": {"n": 2, "output": "$seq",
                                           "sortBy": {"v": -1}}},
                        "bot2": {"$bottomN": {"n": 2, "output": "$seq",
                                              "sortBy": {"v": -1}}},
                    }
                }
            ],
            df,
        ).collect()
    }
    assert got["a"]["best"] == 2 and got["a"]["worst"] == 1
    assert got["a"]["top2"] == [2, 3] and got["a"]["bot2"] == [3, 1]
    # null v ranks lowest under BSON order -> desc puts it last
    assert got["b"]["best"] == 1 and got["b"]["worst"] == 2
    assert got["b"]["top2"] == [1, 2]
    with pytest.raises(PipelineError):
        run([{"$group": {"_id": None, "t": {"$top": {
            "output": "$seq", "sortBy": {"v": 1, "seq": -1}}}}}], df)


def test_group_n_form_accumulators(spark):
    df = spark.createDataFrame(
        [("a", 1, 4.0), ("a", 2, None), ("a", 3, 1.0), ("a", 4, 9.0)],
        "g STRING, seq INT, v DOUBLE",
    )
    got = run(
        [
            {"$sort": {"seq": 1}},
            {
                "$group": {
                    "_id": "$g",
                    "f2": {"$firstN": {"input": "$v", "n": 2}},
                    "l2": {"$lastN": {"input": "$v", "n": 2}},
                    "mn2": {"$minN": {"input": "$v", "n": 2}},
                    "mx2": {"$maxN": {"input": "$v", "n": 2}},
                }
            },
        ],
        df.coalesce(1),
    ).collect()[0]
    assert got["f2"] == [4.0, None]  # firstN keeps nulls
    assert got["l2"] == [1.0, 9.0]
    assert got["mn2"] == [1.0, 4.0]  # minN drops nulls
    assert got["mx2"] == [9.0, 4.0]


def test_group_merge_objects_accumulator(spark):
    df = spark.createDataFrame(
        [("a", 1, {"x": 1, "y": 2}), ("a", 2, {"y": 9, "z": 3}),
         ("a", 3, None), ("b", 1, None)],
        "g STRING, seq INT, m MAP<STRING,INT>",
    )
    got = {
        r["_id"]: r
        for r in run(
            [
                {"$sort": {"seq": 1}},
                {"$group": {"_id": "$g", "m": {"$mergeObjects": "$m"}}},
            ],
            df.coalesce(1),
        ).collect()
    }
    assert got["a"]["m"] == {"x": 1, "y": 9, "z": 3}  # later doc wins
    assert got["b"]["m"] is None  # declared deviation (Mongo: {})


def test_densify_partition_bounds(spark):
    """bounds: "partition" builds each partition's spine from its own
    [min, max] — fully distributed (groupBy agg, no driver collect)."""
    df = spark.createDataFrame(
        [("a", 0, 1.0), ("a", 3, 2.0), ("b", 10, 3.0), ("b", 12, 4.0)],
        "k STRING, x INT, v DOUBLE",
    )
    got = run(
        [
            {
                "$densify": {
                    "field": "x",
                    "partitionByFields": ["k"],
                    "range": {"step": 1, "bounds": "partition"},
                }
            }
        ],
        df,
    ).collect()
    rows = {(r["k"], r["x"]): r["v"] for r in got}
    assert set(rows) == {("a", 0), ("a", 1), ("a", 2), ("a", 3),
                         ("b", 10), ("b", 11), ("b", 12)}
    assert rows[("a", 1)] is None and rows[("b", 11)] is None  # stubs
    assert rows[("a", 0)] == 1.0 and rows[("b", 12)] == 4.0
    with pytest.raises(PipelineError):
        run([{"$densify": {"field": "x",
                           "range": {"step": 1, "bounds": "partition"}}}], df)


def _lookup_frames(spark):
    orders = spark.createDataFrame(
        [(1, "alice", 25.0), (2, "bob", 8.0), (3, "carol", 60.0)],
        "order_id INT, cust STRING, budget DOUBLE",
    )
    items = spark.createDataFrame(
        [("alice", "apple", 5.0), ("alice", "brie", 20.0),
         ("alice", "caviar", 90.0), ("bob", "donut", 3.0),
         ("dave", "egg", 1.0)],
        "cust STRING, item STRING, price DOUBLE",
    )
    return orders, items


def test_lookup_pipeline_equi_correlated(spark):
    orders, items = _lookup_frames(spark)
    got = {
        r["order_id"]: r["aff"]
        for r in run(
            [
                {
                    "$lookup": {
                        "from": "items",
                        "let": {"c": "$cust", "cap": "$budget"},
                        "pipeline": [
                            {"$match": {"$expr": {"$and": [
                                {"$eq": ["$$c", "$cust"]},
                                {"$lte": ["$price", "$$cap"]},
                            ]}}},
                            {"$sort": {"price": -1}},
                            {"$limit": 2},
                            {"$project": {"item": 1, "price": 1}},
                        ],
                        "as": "aff",
                    }
                }
            ],
            orders,
            tables={"items": items},
        ).collect()
    }
    # alice: items <= 25 are apple(5), brie(20); sorted desc -> brie, apple
    assert [(x["item"], x["price"]) for x in got[1]] == [
        ("brie", 20.0), ("apple", 5.0)]
    assert [(x["item"], x["price"]) for x in got[2]] == [("donut", 3.0)]
    assert got[3] == []  # carol: no items at all -> []


def test_lookup_pipeline_equi_only_and_rowwise(spark):
    orders, items = _lookup_frames(spark)
    got = {
        r["order_id"]: sorted(x["item"] for x in r["cheap"])
        for r in run(
            [
                {
                    "$lookup": {
                        "from": "items",
                        "let": {"c": "$cust"},
                        "pipeline": [
                            {"$match": {"$expr": {"$eq": ["$cust", "$$c"]}}},
                            {"$match": {"price": {"$lt": 50}}},
                            {"$set": {"tag": {"$concat": ["x-", "$item"]}}},
                        ],
                        "as": "cheap",
                    }
                }
            ],
            orders,
            tables={"items": items},
        ).collect()
    }
    assert got[1] == ["apple", "brie"]  # caviar filtered by uncorrelated match
    assert got[2] == ["donut"] and got[3] == []


def test_lookup_pipeline_uncorrelated(spark):
    orders, items = _lookup_frames(spark)
    got = run(
        [
            {
                "$lookup": {
                    "from": "items",
                    "pipeline": [
                        {"$match": {"price": {"$gt": 10}}},
                        {"$project": {"item": 1}},
                    ],
                    "as": "expensive",
                }
            }
        ],
        orders,
        tables={"items": items},
    ).collect()
    # every local row gets the same full sub-pipeline result
    for r in got:
        assert sorted(x["item"] for x in r["expensive"]) == ["brie", "caviar"]


def test_lookup_pipeline_rejects(spark):
    orders, items = _lookup_frames(spark)
    with pytest.raises(PipelineError):  # correlated ref outside stage 1
        run([{"$lookup": {"from": "items", "let": {"c": "$cust"},
                          "pipeline": [
                              {"$match": {"$expr": {"$eq": ["$cust", "$$c"]}}},
                              {"$match": {"$expr": {"$eq": ["$item", "$$c"]}}},
                          ],
                          "as": "z"}}], orders, tables={"items": items})
    with pytest.raises(PipelineError):  # group inside correlated pipeline
        run([{"$lookup": {"from": "items", "let": {"c": "$cust"},
                          "pipeline": [
                              {"$match": {"$expr": {"$eq": ["$cust", "$$c"]}}},
                              {"$group": {"_id": None, "n": {"$sum": 1}}},
                          ],
                          "as": "z"}}], orders, tables={"items": items})
    # combined localField+pipeline form is legal since Mongo 5.0 and
    # supported (test_lookup_combined_local_field_pipeline); what stays
    # rejected is localField WITHOUT its foreignField
    with pytest.raises(PipelineError):
        run([{"$lookup": {"from": "items", "localField": "cust",
                          "pipeline": [], "as": "z"}}],
            orders, tables={"items": items})


def test_geo_near_spherical_and_planar(spark):
    """$geoNear: haversine meters on Mongo's Earth radius (spherical)
    and planar coordinate-unit distance; query pre-filter, distance
    bounds, multiplier, includeLocs, ascending order, first-stage
    rule."""
    import math

    df = spark.createDataFrame(
        [
            (1, [0.0, 0.0], "keep"),
            (2, [1.0, 0.0], "keep"),
            (3, [0.0, 2.0], "keep"),
            (4, [10.0, 10.0], "keep"),
            (5, [0.1, 0.1], "drop"),
        ],
        "id INT, loc ARRAY<DOUBLE>, tag STRING",
    )
    got = translate_pipeline(
        [
            {
                "$geoNear": {
                    "near": {"type": "Point", "coordinates": [0.0, 0.0]},
                    "key": "loc",
                    "distanceField": "d",
                    "spherical": True,
                    "query": {"tag": "keep"},
                    "maxDistance": 1_000_000,
                    "distanceMultiplier": 0.001,
                    "includeLocs": "pt",
                }
            }
        ]
    )(df).collect()
    assert [r["id"] for r in got] == [1, 2, 3]  # ascending, 4+5 gone
    R = 6378100.0
    one_deg_lon_km = 2 * R * math.asin(math.sin(math.radians(0.5))) / 1000
    assert got[0]["d"] == 0.0
    assert got[1]["d"] == pytest.approx(one_deg_lon_km, rel=1e-9)
    assert got[2]["d"] == pytest.approx(2 * one_deg_lon_km, rel=1e-9)
    assert list(got[1]["pt"]) == [1.0, 0.0]

    planar = translate_pipeline(
        [
            {
                "$geoNear": {
                    "near": [3.0, 4.0],
                    "key": "loc",
                    "distanceField": "d",
                    "minDistance": 1.0,
                }
            },
            {"$limit": 2},
        ]
    )(df).collect()
    # distances to (3,4): id3 sqrt(13), id2 sqrt(20), id5 ~4.86,
    # id1 5.0, id4 ~9.22 -> limit 2 keeps id3, id2
    assert [r["id"] for r in planar] == [3, 2]
    assert planar[0]["d"] == pytest.approx(math.hypot(3.0, 2.0))

    with pytest.raises(PipelineError):
        translate_pipeline(
            [{"$match": {}}, {"$geoNear": {"near": [0, 0], "key": "loc",
                                           "distanceField": "d"}}]
        )
    with pytest.raises(PipelineError):
        run([{"$geoNear": {"near": [0.0], "key": "loc",
                           "distanceField": "d"}}], df)
    with pytest.raises(PipelineError):
        run([{"$geoNear": {"near": [0.0, 0.0], "distanceField": "d"}}], df)


def test_merge_stage_update_pipeline(spark, tmp_path):
    """whenMatched: [pipeline] — the update pipeline runs over the
    STORED doc with $$new bound to the incoming doc; unmatched
    incoming rows insert unchanged."""
    path = str(tmp_path / "mp")
    base = spark.createDataFrame(
        [(1, 10, 1), (2, 20, 1)], "_id INT, total INT, n INT"
    )
    base.write.parquet(path)

    incoming = spark.createDataFrame(
        [(2, 7, 1), (3, 30, 1)], "_id INT, total INT, n INT"
    )
    got = translate_pipeline(
        [
            {
                "$merge": {
                    "into": "t",
                    "on": "_id",
                    "whenMatched": [
                        {
                            "$set": {
                                "total": {"$add": ["$total", "$$new.total"]},
                                "n": {"$add": ["$n", 1]},
                            }
                        }
                    ],
                }
            }
        ],
        sinks={"t": path},
    )(incoming)
    rows = {r["_id"]: (r["total"], r["n"]) for r in got.collect()}
    assert rows[1] == (10, 1)   # untouched stored row
    assert rows[2] == (27, 2)   # accumulated: stored 20 + new 7, n bumped
    assert rows[3] == (30, 1)   # unmatched incoming inserted as-is

    # $replaceWith form: swap the stored doc for a computed document
    incoming2 = spark.createDataFrame([(3, 5, 9)], "_id INT, total INT, n INT")
    got2 = translate_pipeline(
        [
            {
                "$merge": {
                    "into": "t",
                    "on": "_id",
                    "whenMatched": [
                        {
                            "$replaceWith": {
                                "_id": "$_id",
                                "total": "$$new.total",
                                "n": {"$add": ["$n", 100]},
                            }
                        }
                    ],
                    "whenNotMatched": "discard",
                }
            }
        ],
        sinks={"t": path},
    )(incoming2)
    rows2 = {r["_id"]: (r["total"], r["n"]) for r in got2.collect()}
    assert rows2[3] == (5, 101)  # new total, stored n (1) + 100
    assert set(rows2) == {1, 2, 3}

    with pytest.raises(PipelineError):
        translate_pipeline(
            [{"$merge": {"into": "t", "on": "_id",
                         "whenMatched": [{"$group": {"_id": None}}]}}],
            sinks={"t": path},
        )(incoming)
    with pytest.raises(PipelineError):
        translate_pipeline(
            [{"$merge": {"into": "t", "on": "_id",
                         "whenMatched": [{"$unset": "_id"}]}}],
            sinks={"t": path},
        )(incoming)


def test_documents_stage(spark):
    """$documents replaces the input (which may be None), first-stage
    only; key order follows the first document."""
    pipe = translate_pipeline(
        [
            {"$documents": [
                {"k": "a", "v": 3},
                {"k": "b", "v": 1},
                {"k": "a", "v": 2},
            ]},
            {"$group": {"_id": "$k", "total": {"$sum": "$v"}}},
            {"$sort": {"_id": 1}},
        ]
    )
    got = pipe(None).collect()
    assert [(r["_id"], r["total"]) for r in got] == [("a", 5), ("b", 1)]
    cols = translate_pipeline([{"$documents": [{"z": 1, "a": 2}]}])(None)
    assert cols.columns == ["z", "a"]  # first-doc order, not alphabetical
    with pytest.raises(PipelineError):
        translate_pipeline([{"$match": {}}, {"$documents": [{"a": 1}]}])
    with pytest.raises(PipelineError):
        translate_pipeline([{"$documents": []}])(None)


def test_sample_rate_stage(spark):
    """$sampleRate: deterministic content-hash keep decision,
    approximate proportion, 0/1 edges, [0,1] validation."""
    df = spark.range(0, 4000).withColumnRenamed("id", "x")
    kept = run([{"$sampleRate": 0.25}], df)
    n = kept.count()
    assert 800 < n < 1200  # ~1000 expected
    assert run([{"$sampleRate": 0.25}], df).count() == n  # deterministic
    assert run([{"$sampleRate": 0}], df).count() == 0
    assert run([{"$sampleRate": 1}], df).count() == 4000
    sub = {r["x"] for r in kept.collect()}
    assert sub <= set(range(4000))
    with pytest.raises(PipelineError):
        run([{"$sampleRate": 1.5}], df)


def test_merge_stage_fail_modes(spark, tmp_path):
    """whenMatched/whenNotMatched 'fail' abort before any write and
    leave the committed target untouched."""
    path = str(tmp_path / "mf")
    base = spark.createDataFrame([(1, "a")], "_id INT, v STRING")
    translate_pipeline(
        [{"$merge": {"into": "t", "on": "_id"}}], sinks={"t": path}
    )(base)

    clash = spark.createDataFrame([(1, "new")], "_id INT, v STRING")
    with pytest.raises(PipelineError, match="whenMatched: fail"):
        translate_pipeline(
            [{"$merge": {"into": "t", "on": "_id",
                         "whenMatched": "fail"}}],
            sinks={"t": path},
        )(clash)
    fresh = spark.createDataFrame([(9, "x")], "_id INT, v STRING")
    with pytest.raises(PipelineError, match="whenNotMatched: fail"):
        translate_pipeline(
            [{"$merge": {"into": "t", "on": "_id",
                         "whenNotMatched": "fail"}}],
            sinks={"t": path},
        )(fresh)
    # target unchanged by both failed merges
    got = read_versioned_sink(spark, path).collect()
    assert [(r["_id"], r["v"]) for r in got] == [(1, "a")]
    # the combination that CAN succeed: all-matched updates pass the
    # whenNotMatched guard
    ok = translate_pipeline(
        [{"$merge": {"into": "t", "on": "_id",
                     "whenNotMatched": "fail"}}],
        sinks={"t": path},
    )(clash)
    assert [(r["_id"], r["v"]) for r in ok.collect()] == [(1, "new")]


def test_merge_stage_compound_on(spark, tmp_path):
    """$merge on: [field, field] — the compound unique key form."""
    path = str(tmp_path / "mc")
    base = spark.createDataFrame(
        [(1, "a", 10), (1, "b", 20), (2, "a", 30)],
        "k1 INT, k2 STRING, v INT",
    )
    base.write.parquet(path)
    incoming = spark.createDataFrame(
        [(1, "b", 99), (3, "c", 7)], "k1 INT, k2 STRING, v INT"
    )
    got = translate_pipeline(
        [{"$merge": {"into": "t", "on": ["k1", "k2"]}}],
        sinks={"t": path},
    )(incoming)
    rows = {(r["k1"], r["k2"]): r["v"] for r in got.collect()}
    assert rows == {(1, "a"): 10, (1, "b"): 99, (2, "a"): 30, (3, "c"): 7}
    # field-level merge over the compound key
    incoming2 = spark.createDataFrame(
        [(2, "a", None, "x")], "k1 INT, k2 STRING, v INT, extra STRING"
    )
    got2 = translate_pipeline(
        [{"$merge": {"into": "t", "on": ["k1", "k2"],
                     "whenMatched": "merge",
                     "whenNotMatched": "discard"}}],
        sinks={"t": path},
    )(incoming2)
    rows2 = {(r["k1"], r["k2"]): (r["v"], r["extra"]) for r in got2.collect()}
    assert rows2[(2, "a")] == (30, "x")  # null v kept old, extra added


def test_regex_find_all_matches_python_re(spark):
    """Table-driven cross-check of $regexFindAll against Python re on
    a lookaround-free pattern subset (where Java and Python regex
    semantics coincide): match strings, offsets, and captures must
    all agree for every text."""
    import re as _pyre

    patterns = [
        r"a+",
        r"[ab]c",
        r"(a|b)x(\d)",
        r"(\w+)=(\w+)",
        r"a.b",
        r"(ab)+",
        r"x(y?)z",
    ]
    texts = [
        "",
        "aaa",
        "abc ac bc",
        "ax1 bx2 cx3",
        "k=v kk=vv =x a=",
        "a_b axb a b",
        "abab ab ababab",
        "xz xyz xyyz",
        "aaaa ab aac",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i INT, t STRING")
    for pat in patterns:
        got = {
            r["i"]: r["out"]
            for r in run(
                [{"$project": {"i": 1, "out": {"$regexFindAll": {
                    "input": "$t", "regex": pat}}}}],
                df,
            ).collect()
        }
        rx = _pyre.compile(pat)
        for i, t in enumerate(texts):
            expected = [
                (
                    m.group(0),
                    m.start(),
                    ["" if g is None else g for g in m.groups()],
                )
                for m in rx.finditer(t)
            ]
            actual = [
                (d["match"], d["idx"], list(d["captures"]))
                for d in got[i]
            ]
            assert actual == expected, (
                f"pattern {pat!r} text {t!r}: {actual} != {expected}"
            )


def test_merge_stage_let_variables(spark, tmp_path):
    """$merge let: values evaluate against the INCOMING document and
    bind as $$vars inside the whenMatched pipeline."""
    path = str(tmp_path / "ml")
    spark.createDataFrame(
        [(1, 10), (2, 20)], "_id INT, total INT"
    ).write.parquet(path)
    incoming = spark.createDataFrame(
        [(2, 5), (3, 30)], "_id INT, total INT"
    )
    got = translate_pipeline(
        [
            {
                "$merge": {
                    "into": "t",
                    "on": "_id",
                    "let": {
                        "boosted": {"$multiply": ["$total", 10]},
                    },
                    "whenMatched": [
                        {"$set": {"total": {"$add": ["$total", "$$boosted"]}}}
                    ],
                }
            }
        ],
        sinks={"t": path},
    )(incoming)
    rows = {r["_id"]: r["total"] for r in got.collect()}
    # stored 20 + (incoming 5 * 10); let saw the INCOMING total
    assert rows == {1: 10, 2: 70, 3: 30}


def test_lookup_pipeline_theta_range(spark):
    """Range-correlated $lookup (theta conjuncts beside the equality):
    per order, same-customer items priced within the order's [lo, hi]
    band — exercises the row-id fallback join path."""
    orders = spark.createDataFrame(
        [(1, "a", 10, 60), (2, "b", 5, 20), (3, "a", 100, 200)],
        "order_id INT, cust STRING, lo INT, hi INT",
    )
    items = spark.createDataFrame(
        [("a", "apple", 15), ("a", "brie", 45), ("a", "caviar", 90),
         ("b", "donut", 10), ("b", "eclair", 25)],
        "cust STRING, item STRING, price INT",
    )
    got = {
        r["order_id"]: sorted(x["item"] for x in r["in_band"])
        for r in translate_pipeline(
            [
                {
                    "$lookup": {
                        "from": "items",
                        "let": {"c": "$cust", "lo": "$lo", "hi": "$hi"},
                        "pipeline": [
                            {"$match": {"$expr": {"$and": [
                                {"$eq": ["$cust", "$$c"]},
                                {"$gte": ["$price", "$$lo"]},
                                {"$lte": ["$price", "$$hi"]},
                            ]}}},
                        ],
                        "as": "in_band",
                    }
                }
            ],
            tables={"items": items},
        )(orders).collect()
    }
    assert got[1] == ["apple", "brie"]   # 15, 45 in [10, 60]; 90 out
    assert got[2] == ["donut"]           # 10 in [5, 20]; 25 out
    assert got[3] == []                  # nothing priced 100-200


def test_review_fixes_regex_replace_geo(spark):
    """Round-3 review fixes: literal $replaceAll replacement ($/\\
    not group references), full i/m/s/x regex options, [] for null
    $regexFindAll input, dotted $geoNear distanceField, and foreign
    '__l*' user columns surviving a correlated $lookup."""
    df = spark.createDataFrame(
        [(1, "price a and a", "a\nb", None)],
        "id INT, s STRING, ml STRING, nul STRING",
    )
    got = run(
        [
            {
                "$project": {
                    "rep": {"$replaceAll": {
                        "input": "$s", "find": "a",
                        "replacement": {"$literal": "$5.00"}}},
                    "bs": {"$replaceAll": {
                        "input": "$s", "find": "price", "replacement": "c:\\dir"}},
                    "dotall": {"$regexMatch": {
                        "input": "$ml", "regex": "a.b", "options": "s"}},
                    "nodotall": {"$regexMatch": {
                        "input": "$ml", "regex": "a.b"}},
                    "null_all": {"$regexFindAll": {
                        "input": "$nul", "regex": "x"}},
                }
            }
        ],
        df,
    ).collect()[0]
    assert got["rep"] == "price $5.00 $5.00nd $5.00"
    assert got["bs"] == "c:\\dir a and a"
    assert got["dotall"] is True and got["nodotall"] is False
    assert got["null_all"] == []
    with pytest.raises(PipelineError):
        run([{"$project": {"x": {"$regexMatch": {
            "input": "$s", "regex": "a", "options": "u"}}}}], df)

    # dotted distanceField sorts without UNRESOLVED_COLUMN
    geo = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [5.0, 0.0])], "id INT, loc ARRAY<DOUBLE>"
    )
    rows = translate_pipeline(
        [{"$geoNear": {"near": [0.0, 0.0], "key": "loc",
                       "distanceField": "dist.calculated"}}]
    )(geo).collect()
    assert [r["id"] for r in rows] == [1, 2]
    assert rows[0]["dist.calculated"] == 1.0

    # a user column named __label survives the correlated lookup
    orders = spark.createDataFrame([(1, "a")], "order_id INT, cust STRING")
    items = spark.createDataFrame(
        [("a", "apple", "keepme")], "cust STRING, item STRING, __label STRING"
    )
    out = translate_pipeline(
        [{"$lookup": {"from": "items", "let": {"c": "$cust"},
                      "pipeline": [{"$match": {"$expr": {"$eq": ["$cust", "$$c"]}}}],
                      "as": "m"}}],
        tables={"items": items},
    )(orders).collect()[0]
    assert out["m"][0]["__label"] == "keepme"


# --- $vectorSearch ---------------------------------------------------------


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.createDataFrame(
        [
            (1, [1.0, 0.0], "a"),
            (2, [0.9, 0.1], "a"),
            (3, [0.0, 1.0], "b"),
            (4, [-1.0, 0.0], "a"),
            (5, [0.6, 0.8], "b"),
        ],
        "vid INT, emb ARRAY<DOUBLE>, grp STRING",
    )


def test_vector_search_cosine_topk(vecs):
    out = run(
        [
            {
                "$vectorSearch": {
                    "path": "emb",
                    "queryVector": [1.0, 0.0],
                    "limit": 3,
                }
            },
            {
                "$project": {
                    "vid": 1,
                    "score": {"$meta": "vectorSearchScore"},
                }
            },
        ],
        vecs,
    ).collect()
    assert [r["vid"] for r in out] == [1, 2, 5]
    # Atlas normalization: cosine 1.0 -> score 1.0, cosine -1 -> 0
    assert out[0]["score"] == 1.0


def test_vector_search_filter_and_hidden_score_drop(vecs):
    out = run(
        [
            {
                "$vectorSearch": {
                    "path": "emb",
                    "queryVector": [1.0, 0.0],
                    "limit": 10,
                    "filter": {"grp": "b"},
                }
            }
        ],
        vecs,
    )
    # score column is hidden when no $meta projects it
    assert out.columns == ["vid", "emb", "grp"]
    assert [r["vid"] for r in out.collect()] == [5, 3]


def test_vector_search_euclidean_and_dot(vecs):
    euc = run(
        [
            {
                "$vectorSearch": {
                    "path": "emb",
                    "queryVector": [1.0, 0.0],
                    "limit": 1,
                    "similarity": "euclidean",
                }
            },
            {"$project": {"vid": 1, "s": {"$meta": "vectorSearchScore"}}},
        ],
        vecs,
    ).collect()
    assert euc[0]["vid"] == 1 and euc[0]["s"] == 1.0  # 1/(1+0)
    dot = run(
        [
            {
                "$vectorSearch": {
                    "path": "emb",
                    "queryVector": [2.0, 0.0],
                    "limit": 1,
                    "similarity": "dotProduct",
                }
            },
            {"$project": {"vid": 1, "s": {"$meta": "vectorSearchScore"}}},
        ],
        vecs,
    ).collect()
    assert dot[0]["vid"] == 1 and dot[0]["s"] == 1.5  # (1 + 2)/2


def test_vector_search_validation(vecs):
    with pytest.raises(PipelineError, match="first stage"):
        run(
            [
                {"$match": {"grp": "a"}},
                {
                    "$vectorSearch": {
                        "path": "emb",
                        "queryVector": [1.0, 0.0],
                        "limit": 1,
                    }
                },
            ],
            vecs,
        )
    with pytest.raises(PipelineError, match="numCandidates"):
        run(
            [
                {
                    "$vectorSearch": {
                        "path": "emb",
                        "queryVector": [1.0, 0.0],
                        "limit": 5,
                        "numCandidates": 2,
                    }
                }
            ],
            vecs,
        )
    with pytest.raises(PipelineError, match="exact"):
        run(
            [
                {
                    "$vectorSearch": {
                        "path": "emb",
                        "queryVector": [1.0, 0.0],
                        "limit": 1,
                        "numCandidates": 5,
                        "exact": True,
                    }
                }
            ],
            vecs,
        )
    with pytest.raises(PipelineError, match="similarity"):
        run(
            [
                {
                    "$vectorSearch": {
                        "path": "emb",
                        "queryVector": [1.0, 0.0],
                        "limit": 1,
                        "similarity": "manhattan",
                    }
                }
            ],
            vecs,
        )
    with pytest.raises(PipelineError, match="\\$meta"):
        run([{"$project": {"s": {"$meta": "textScore"}}}], vecs)


def test_server_side_only_operators_raise_clearly(docs):
    with pytest.raises(PipelineError, match="sampleRate"):
        run([{"$addFields": {"r": {"$rand": {}}}}], docs)
    with pytest.raises(PipelineError, match="JavaScript"):
        run([{"$addFields": {"x": {"$function": {"body": "f", "args": [], "lang": "js"}}}}], docs)
    with pytest.raises(PipelineError, match="JavaScript"):
        run([{"$group": {"_id": None, "x": {"$accumulator": {}}}}], docs)


def test_percentile_median_expression_form(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0]), (2, [10.0, None, 30.0]), (3, []), (4, None)],
        "id INT, xs ARRAY<DOUBLE>",
    )
    out = run(
        [
            {
                "$project": {
                    "id": 1,
                    "med": {"$median": {"input": "$xs", "method": "approximate"}},
                    "pct": {
                        "$percentile": {
                            "input": "$xs",
                            "p": [0.0, 0.5, 1.0],
                            "method": "approximate",
                        }
                    },
                }
            }
        ],
        df,
    ).orderBy("id").collect()
    assert out[0]["med"] == 2.5 and out[0]["pct"] == [1.0, 2.5, 4.0]
    assert out[1]["med"] == 20.0  # nulls ignored
    assert out[2]["med"] is None and out[2]["pct"] is None  # empty -> null
    assert out[3]["med"] is None
    with pytest.raises(PipelineError, match="percentile"):
        run([{"$project": {"p": {"$percentile": {"input": "$xs", "p": [1.5]}}}}], df)


# --- $changeStreamSplitLargeEvent ------------------------------------------


@pytest.fixture(scope="module")
def change_events(spark):
    return spark.createDataFrame(
        [
            # update: all three payloads present
            ("e1", "update", "A" * 50, "B" * 50, ("C" * 20, [], [])),
            # insert: small, fits
            ("e2", "insert", "A" * 10, None, None),
            # delete: lone oversize before-image
            ("e3", "delete", None, "B" * 200, None),
            # heartbeat-ish: no payload at all
            ("e4", "drop", None, None, None),
        ],
        "ev STRING, operationType STRING, fullDocument STRING, "
        "fullDocumentBeforeChange STRING, "
        "updateDescription STRUCT<updatedFields: STRING, "
        "removedFields: ARRAY<STRING>, "
        "truncatedArrays: ARRAY<STRUCT<field:STRING,newSize:INT>>>",
    )


def test_split_large_event_fragments(change_events):
    out = run(
        [{"$changeStreamSplitLargeEvent": {"maxSize": 60}}], change_events
    ).collect()
    by_ev = {}
    for r in out:
        by_ev.setdefault(r["ev"], []).append(r)
    # e1: 50 + 50 > 60 -> frag2; + 20 > 60 -> frag3
    e1 = sorted(by_ev["e1"], key=lambda r: r["splitEvent"]["fragment"])
    assert [r["splitEvent"]["of"] for r in e1] == [3, 3, 3]
    assert e1[0]["fullDocument"] == "A" * 50 and e1[0]["fullDocumentBeforeChange"] is None
    assert e1[1]["fullDocumentBeforeChange"] == "B" * 50 and e1[1]["fullDocument"] is None
    assert e1[2]["updateDescription"]["updatedFields"] == "C" * 20
    assert e1[0]["updateDescription"] is None
    # envelope fields replicate
    assert {r["operationType"] for r in e1} == {"update"}
    # e2 fits: unchanged, null splitEvent
    (e2,) = by_ev["e2"]
    assert e2["splitEvent"] is None and e2["fullDocument"] == "A" * 10
    # e3: single oversize field -> one fragment of its own, BUT n == 1
    # means no split happened at all (it is the only payload)
    (e3,) = by_ev["e3"]
    assert e3["splitEvent"] is None
    assert e3["fullDocumentBeforeChange"] == "B" * 200
    # e4: no payload, passes through
    (e4,) = by_ev["e4"]
    assert e4["splitEvent"] is None


def test_split_large_event_validation(change_events, docs):
    with pytest.raises(PipelineError, match="last stage"):
        run(
            [
                {"$changeStreamSplitLargeEvent": {}},
                {"$match": {"operationType": "update"}},
            ],
            change_events,
        )
    with pytest.raises(PipelineError, match="change-event frame"):
        run([{"$changeStreamSplitLargeEvent": {}}], docs)
    with pytest.raises(PipelineError, match="maxSize"):
        run([{"$changeStreamSplitLargeEvent": {"maxSize": 0}}], change_events)
    with pytest.raises(PipelineError, match="option"):
        run([{"$changeStreamSplitLargeEvent": {"bogus": 1}}], change_events)


def test_match_server_side_operators(docs):
    with pytest.raises(PipelineError, match="JavaScript"):
        run([{"$match": {"$where": "this.id > 1"}}], docs)
    with pytest.raises(PipelineError, match="text"):
        run([{"$match": {"$text": {"$search": "x"}}}], docs)
    with pytest.raises(PipelineError, match="type"):
        run([{"$match": {"$jsonSchema": {"required": ["id"]}}}], docs)
    # $comment is a no-op annotation, as on the server
    out = run([{"$match": {"id": {"$gte": 2}, "$comment": "audit"}}], docs)
    assert out.count() == 2


def test_bits_match_operators(spark):
    df = spark.createDataFrame(
        [(1, 0b1010), (2, 0b0110), (3, 0), (4, None)], "id INT, f BIGINT"
    )

    def ids(cond):
        return sorted(r["id"] for r in run([{"$match": {"f": cond}}], df).collect())

    assert ids({"$bitsAllSet": 0b0010}) == [1, 2]
    assert ids({"$bitsAllSet": [1, 3]}) == [1]  # position-array form
    assert ids({"$bitsAllClear": 0b0101}) == [1, 3]
    assert ids({"$bitsAnySet": 0b1100}) == [1, 2]
    assert ids({"$bitsAnyClear": 0b1110}) == [1, 2, 3]
    # vacuous masks; nulls never match
    assert ids({"$bitsAllSet": 0}) == [1, 2, 3]
    assert ids({"$bitsAnySet": 0}) == []
    with pytest.raises(PipelineError, match="mask"):
        ids({"$bitsAllSet": -1})
    with pytest.raises(PipelineError, match="positions"):
        ids({"$bitsAllSet": [-1]})


def test_search_stage_raises_clearly(docs):
    with pytest.raises(PipelineError, match="Atlas"):
        run([{"$search": {"text": {"query": "x", "path": "name"}}}], docs)
    with pytest.raises(PipelineError, match="Atlas"):
        run([{"$searchMeta": {}}], docs)


def test_sort_array_document_sortby(spark):
    df = spark.createDataFrame(
        [
            (
                1,
                [
                    {"k": 2, "j": "b"},
                    {"k": 1, "j": "z"},
                    None,
                    {"k": 2, "j": "a"},
                    {"k": None, "j": "x"},
                ],
            )
        ],
        "id INT, xs ARRAY<STRUCT<k: INT, j: STRING>>",
    )
    out = run(
        [
            {
                "$project": {
                    "asc": {"$sortArray": {"input": "$xs", "sortBy": {"k": 1, "j": 1}}},
                    "mixed": {
                        "$sortArray": {"input": "$xs", "sortBy": {"k": -1, "j": 1}}
                    },
                }
            }
        ],
        df,
    ).collect()[0]
    # null element lowest, then null-k, then k asc with j tiebreak
    assert [None if x is None else (x["k"], x["j"]) for x in out["asc"]] == [
        None,
        (None, "x"),
        (1, "z"),
        (2, "a"),
        (2, "b"),
    ]
    # k desc ranks both null-k entries last; the j:1 ascending
    # tiebreak then puts the null ELEMENT (null j) before (None, "x")
    assert [None if x is None else (x["k"], x["j"]) for x in out["mixed"]] == [
        (2, "a"),
        (2, "b"),
        (1, "z"),
        None,
        (None, "x"),
    ]
    with pytest.raises(PipelineError, match="sortBy"):
        run([{"$project": {"x": {"$sortArray": {"input": "$xs", "sortBy": 2}}}}], df)


def test_now_bsonsize_and_cluster_time(docs):
    out = run(
        [
            {
                "$project": {
                    "id": 1,
                    "now": "$$NOW",
                    "sz": {"$bsonSize": "$addr"},
                }
            }
        ],
        docs,
    ).collect()
    import datetime

    assert all(isinstance(r["now"], datetime.datetime) for r in out)
    # all rows share one statement timestamp (Mongo fixes $$NOW per
    # aggregation)
    assert len({r["now"] for r in out}) == 1
    by_id = {r["id"]: r for r in out}
    assert by_id[1]["sz"] == len('{"city":"ber","zip":"10115"}')
    with pytest.raises(PipelineError, match="CLUSTER_TIME"):
        run([{"$project": {"x": "$$CLUSTER_TIME"}}], docs)


def test_split_large_event_presence_not_truthiness(spark):
    """Review regression: a zero-SIZED but PRESENT payload field must
    still be assigned a fragment — an updateDescription whose
    updatedFields is null but whose removedFields carry data, and an
    empty-string document, are data Mongo always ships."""
    df = spark.createDataFrame(
        [
            ("e1", "update", "A" * 50, "B" * 50, (None, ["x"], [])),
            ("e2", "replace", "", "B" * 60, None),
        ],
        "ev STRING, operationType STRING, fullDocument STRING, "
        "fullDocumentBeforeChange STRING, "
        "updateDescription STRUCT<updatedFields: STRING, "
        "removedFields: ARRAY<STRING>, "
        "truncatedArrays: ARRAY<STRUCT<field:STRING,newSize:INT>>>",
    )
    out = run([{"$changeStreamSplitLargeEvent": {"maxSize": 60}}], df).collect()
    by_ev = {}
    for r in out:
        by_ev.setdefault(r["ev"], []).append(r)
    # e1 splits 2-way (the 1-byte-presence struct packs with the
    # before-image); removedFields survive in exactly one fragment
    assert len(by_ev["e1"]) == 2
    carried = [r for r in by_ev["e1"] if r["updateDescription"] is not None]
    assert len(carried) == 1 and carried[0]["updateDescription"]["removedFields"] == ["x"]
    # e2: the empty-string document occupies its own fragment
    assert len(by_ev["e2"]) == 2
    docs = [r["fullDocument"] for r in by_ev["e2"]]
    assert "" in docs and docs.count(None) == 1


def test_vector_search_tiebreak_and_out_sink(vecs, tmp_path):
    out = run(
        [
            {
                "$vectorSearch": {
                    "path": "emb",
                    "queryVector": [1.0, 0.0],
                    "limit": 3,
                    "tieBreak": ["vid"],
                }
            },
            {"$out": "t"}
        ],
        vecs,
        sinks={"t": str(tmp_path / "vs_out")},
    )
    # the hidden score column must not leak into the committed sink
    assert "__vs_score" not in out.columns
    assert out.count() == 3
    with pytest.raises(PipelineError, match="tieBreak"):
        run(
            [
                {
                    "$vectorSearch": {
                        "path": "emb",
                        "queryVector": [1.0, 0.0],
                        "limit": 1,
                        "tieBreak": "vid",
                    }
                }
            ],
            vecs,
        )


def test_bits_sign_bit_and_bounds(spark):
    df = spark.createDataFrame([(1, -1), (2, 1)], "id INT, f BIGINT")

    def ids(cond):
        return sorted(r["id"] for r in run([{"$match": {"f": cond}}], df).collect())

    # position 63 is the sign bit: set on -1 (all ones), clear on 1
    assert ids({"$bitsAllSet": [63]}) == [1]
    assert ids({"$bitsAllClear": [63]}) == [2]
    with pytest.raises(PipelineError, match="0..63"):
        ids({"$bitsAllSet": [64]})


def test_sort_array_dotted_sortby(spark):
    df = spark.createDataFrame(
        [(1, [{"a": {"b": 2}}, {"a": {"b": 1}}])],
        "id INT, xs ARRAY<STRUCT<a: STRUCT<b: INT>>>",
    )
    out = run(
        [{"$project": {"s": {"$sortArray": {"input": "$xs", "sortBy": {"a.b": 1}}}}}],
        df,
    ).collect()[0]
    assert [x["a"]["b"] for x in out["s"]] == [1, 2]


def test_bucket_auto_granularity(spark):
    df = spark.createDataFrame(
        [(float(v),) for v in [3, 7, 14, 30, 55, 120, 250, 900]], "v DOUBLE"
    )
    out = run(
        [
            {
                "$bucketAuto": {
                    "groupBy": "$v",
                    "buckets": 4,
                    "granularity": "POWERSOF2",
                }
            }
        ],
        df,
    ).collect()
    # boundaries are powers of two; strictly-up ceilings clear the max
    bounds = [r["_id"] for r in out]
    import math

    for b in bounds:
        for x in (b["min"], b["max"]):
            if x:
                assert 2.0 ** round(math.log2(x)) == x
        assert b["min"] < b["max"]
    # contiguous, every doc counted once
    for prev, nxt in zip(bounds, bounds[1:]):
        assert prev["max"] == nxt["min"]
    assert sum(r["count"] for r in out) == 8
    assert bounds[0]["min"] <= 3 and bounds[-1]["max"] > 900

    r10 = run(
        [
            {
                "$bucketAuto": {
                    "groupBy": "$v",
                    "buckets": 2,
                    "granularity": "R10",
                }
            }
        ],
        df,
    ).collect()
    assert sum(r["count"] for r in r10) == 8
    assert r10[0]["_id"]["min"] == 2.5  # R10 floor of 3

    with pytest.raises(PipelineError, match="narrower"):
        run(
            [{"$bucketAuto": {"groupBy": "$v", "buckets": 2, "granularity": "E96"}}],
            df,
        )
    neg = spark.createDataFrame([(-1.0,), (2.0,)], "v DOUBLE")
    with pytest.raises(PipelineError, match="non-negative"):
        run(
            [
                {
                    "$bucketAuto": {
                        "groupBy": "$v",
                        "buckets": 2,
                        "granularity": "POWERSOF2",
                    }
                }
            ],
            neg,
        )


def test_bucket_auto_granularity_collapse(spark):
    # all values inside one power-of-two decade -> boundaries collapse
    # to a single bucket (fewer than requested, as in Mongo)
    df = spark.createDataFrame([(9.0,), (9.5,), (9.9,)], "v DOUBLE")
    out = run(
        [
            {
                "$bucketAuto": {
                    "groupBy": "$v",
                    "buckets": 3,
                    "granularity": "POWERSOF2",
                }
            }
        ],
        df,
    ).collect()
    assert len(out) == 1
    assert out[0]["_id"]["min"] == 8.0 and out[0]["_id"]["max"] == 16.0
    assert out[0]["count"] == 3


def test_integral_bounded_documents_frame(spark):
    # unit-spaced points with value 2 -> each adjacent pair contributes
    # area 2; integral over documents [-2, 0] = two pairs = 4
    df = spark.createDataFrame(
        [(i, 2.0) for i in range(5)], "t INT, y DOUBLE"
    )
    out = run(
        [
            {
                "$setWindowFields": {
                    "sortBy": {"t": 1},
                    "output": {
                        "i2": {
                            "$integral": {"input": "$y"},
                            "window": {"documents": [-2, 0]},
                        },
                        "i1": {
                            "$integral": {"input": "$y"},
                            "window": {"documents": [-1, 0]},
                        },
                        "i0": {
                            "$integral": {"input": "$y"},
                            "window": {"documents": [0, 0]},
                        },
                        "iu": {
                            "$integral": {"input": "$y"},
                            "window": {"documents": ["unbounded", 0]},
                        },
                    },
                }
            },
            {"$sort": {"t": 1}},
        ],
        df,
    ).collect()
    assert [r["i2"] for r in out] == [0.0, 2.0, 4.0, 4.0, 4.0]
    assert [r["i1"] for r in out] == [0.0, 2.0, 2.0, 2.0, 2.0]
    assert [r["i0"] for r in out] == [0.0] * 5  # single-doc frame: no pair
    assert [r["iu"] for r in out] == [0.0, 2.0, 4.0, 6.0, 8.0]


def test_merge_stage_update_pipeline_project(spark, tmp_path):
    """$project inside a $merge update pipeline: inclusion keeps the
    on key implicitly, exclusion cannot touch it, computed fields see
    $$new."""
    path = str(tmp_path / "mpp")
    base = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b")], "_id INT, total INT, tag STRING"
    )
    base.write.parquet(path)
    incoming = spark.createDataFrame(
        [(2, 7, "x"), (4, 40, "z")], "_id INT, total INT, tag STRING"
    )
    got = translate_pipeline(
        [
            {
                "$merge": {
                    "into": "t",
                    "on": "_id",
                    "whenMatched": [
                        {
                            "$project": {
                                "total": {"$add": ["$total", "$$new.total"]},
                            }
                        }
                    ],
                }
            }
        ],
        sinks={"t": path},
    )(incoming)
    rows = {r["_id"]: r for r in got.collect()}
    # matched row: tag projected away (null in the fixed schema),
    # total computed from stored + incoming, _id survives implicitly
    assert rows[2]["total"] == 27 and rows[2]["tag"] is None
    assert rows[1]["total"] == 10 and rows[1]["tag"] == "a"
    assert rows[4]["total"] == 40 and rows[4]["tag"] == "z"

    with pytest.raises(PipelineError, match="on key"):
        translate_pipeline(
            [
                {
                    "$merge": {
                        "into": "t",
                        "on": "_id",
                        "whenMatched": [{"$project": {"_id": 0}}],
                    }
                }
            ],
            sinks={"t": path},
        )(incoming)


def test_versioned_sink_retention_and_time_travel(spark, tmp_path):
    """The commit protocol retains exactly one superseded version:
    version=-1 reads the previous commit (one-step rollback), older
    versions are GC'd, and a crash-leftover dir is neither kept as
    the retained predecessor nor readable as -1."""
    import os

    path = str(tmp_path / "vt")
    for batch in ([1, 2], [3], [4, 5, 6]):
        df = spark.createDataFrame([(i,) for i in batch], "id INT")
        run([{"$out": "t"}], df, sinks={"t": path})
    assert sorted(
        r["id"] for r in read_versioned_sink(spark, path).collect()
    ) == [4, 5, 6]
    assert [
        r["id"] for r in read_versioned_sink(spark, path, version=-1).collect()
    ] == [3]
    # only current + previous survive GC
    vdirs = sorted(d for d in os.listdir(path) if d.startswith("v-"))
    assert len(vdirs) == 2
    with pytest.raises(PipelineError, match="version"):
        read_versioned_sink(spark, path, version=-2)

    # crash leftover: a half-written higher-numbered dir must not
    # shadow the committed current (0) or previous (-1) reads
    os.makedirs(os.path.join(path, "v-999999"))
    assert sorted(
        r["id"] for r in read_versioned_sink(spark, path).collect()
    ) == [4, 5, 6]
    assert [
        r["id"] for r in read_versioned_sink(spark, path, version=-1).collect()
    ] == [3]


def test_granularity_null_values_and_drift_guards(spark):
    from pymongo_change_stream_reader_spark.plans.pipeline import (
        _granularity_round,
    )

    # nulls anywhere in the groupBy -> loud error, never a null bucket
    df = spark.createDataFrame(
        [(None,), (5.0,), (7.0,), (9.0,)], "v DOUBLE"
    )
    with pytest.raises(PipelineError, match="non-null"):
        run(
            [
                {
                    "$bucketAuto": {
                        "groupBy": "$v",
                        "buckets": 2,
                        "granularity": "POWERSOF2",
                    }
                }
            ],
            df,
        )
    # epsilon snapping must never put the floor above x / ceiling at x
    for x in (1.9999999999, 2.0, 2.0000000001, 2.4999999999, 8.0):
        for gran in ("POWERSOF2", "R10"):
            lo = _granularity_round(x, gran, up=False)
            hi = _granularity_round(x, gran, up=True)
            assert lo <= x < hi, (x, gran, lo, hi)
    import math

    with pytest.raises(PipelineError, match="finite"):
        _granularity_round(math.nan, "R10", up=True)


def test_integral_window_validation(spark):
    df = spark.createDataFrame([(i, 1.0) for i in range(3)], "t INT, y DOUBLE")

    def win(w):
        return run(
            [
                {
                    "$setWindowFields": {
                        "sortBy": {"t": 1},
                        "output": {
                            "i": {"$integral": {"input": "$y"}, "window": w}
                        },
                    }
                }
            ],
            df,
        )

    with pytest.raises(PipelineError, match="documents"):
        win({"documents": [-2]})
    with pytest.raises(PipelineError, match="ascending"):
        win({"documents": [2, 0]})


def test_merge_project_on_key_subfield_guard(spark, tmp_path):
    path = str(tmp_path / "mg")
    base = spark.createDataFrame(
        [((1, "a"), 10)],
        "key STRUCT<id: INT, tag: STRING>, total INT",
    )
    base.write.parquet(path)
    incoming = spark.createDataFrame(
        [((1, "a"), 7)], "key STRUCT<id: INT, tag: STRING>, total INT"
    )
    with pytest.raises(PipelineError, match="on key"):
        translate_pipeline(
            [
                {
                    "$merge": {
                        "into": "t",
                        "on": "key",
                        "whenMatched": [{"$project": {"key.tag": 0}}],
                    }
                }
            ],
            sinks={"t": path},
        )(incoming)
    with pytest.raises(PipelineError, match="recompute"):
        translate_pipeline(
            [
                {
                    "$merge": {
                        "into": "t",
                        "on": "key",
                        "whenMatched": [{"$project": {"key": {"$literal": 1}}}],
                    }
                }
            ],
            sinks={"t": path},
        )(incoming)


def test_versioned_sink_prev_survives_crash_leftover(spark, tmp_path):
    """version=-1 must come from the manifest, never listdir: a
    leftover dir numbered between the two commits is not readable as
    the predecessor."""
    import os

    path = str(tmp_path / "vc")
    run([{"$out": "t"}], spark.createDataFrame([(1,)], "id INT"), sinks={"t": path})
    # fake a crashed commit attempt AFTER v-000001: half-written dir
    os.makedirs(os.path.join(path, "v-000002"))
    run([{"$out": "t"}], spark.createDataFrame([(2,)], "id INT"), sinks={"t": path})
    assert [
        r["id"] for r in read_versioned_sink(spark, path, version=-1).collect()
    ] == [1]
    assert [r["id"] for r in read_versioned_sink(spark, path).collect()] == [2]


def test_window_percentile_median(spark):
    df = spark.createDataFrame(
        [("a", i, float(i)) for i in range(1, 6)], "g STRING, t INT, v DOUBLE"
    )
    out = run(
        [
            {
                "$setWindowFields": {
                    "partitionBy": "$g",
                    "sortBy": {"t": 1},
                    "output": {
                        "med": {
                            "$median": {"input": "$v", "method": "approximate"},
                            "window": {"documents": ["unbounded", "current"]},
                        },
                        "p": {
                            "$percentile": {
                                "input": "$v",
                                "p": [0.0, 1.0],
                                "method": "approximate",
                            },
                            "window": {"documents": [-1, 0]},
                        },
                    },
                }
            },
            {"$sort": {"t": 1}},
        ],
        df,
    ).collect()
    assert [r["med"] for r in out] == [1.0, 1.5, 2.0, 2.5, 3.0]
    assert out[0]["p"] == [1.0, 1.0] and out[4]["p"] == [4.0, 5.0]
    with pytest.raises(PipelineError, match="p:"):
        run(
            [
                {
                    "$setWindowFields": {
                        "sortBy": {"t": 1},
                        "output": {"x": {"$percentile": {"input": "$v"}}},
                    }
                }
            ],
            df,
        )


def test_window_n_family_and_pickers(spark):
    df = spark.createDataFrame(
        [("a", 1, 30.0, "x"), ("a", 2, 10.0, "y"), ("a", 3, 20.0, "z"),
         ("a", 4, None, "w")],
        "g STRING, t INT, v DOUBLE, tag STRING",
    )
    out = run(
        [
            {
                "$setWindowFields": {
                    "partitionBy": "$g",
                    "sortBy": {"t": 1},
                    "output": {
                        "f2": {
                            "$firstN": {"input": "$tag", "n": 2},
                            "window": {"documents": ["unbounded", "unbounded"]},
                        },
                        "l2": {
                            "$lastN": {"input": "$tag", "n": 2},
                            "window": {"documents": ["unbounded", "unbounded"]},
                        },
                        "m2": {
                            "$minN": {"input": "$v", "n": 2},
                            "window": {"documents": ["unbounded", "unbounded"]},
                        },
                        "x2": {
                            "$maxN": {"input": "$v", "n": 2},
                            "window": {"documents": ["unbounded", "unbounded"]},
                        },
                        "s": {
                            "$addToSet": "$g",
                            "window": {"documents": ["unbounded", "unbounded"]},
                        },
                        "best": {
                            "$top": {"sortBy": {"v": -1}, "output": "$tag"},
                            "window": {"documents": ["unbounded", "unbounded"]},
                        },
                        "worst2": {
                            "$bottomN": {
                                "sortBy": {"v": -1},
                                "output": "$tag",
                                "n": 2,
                            },
                            "window": {"documents": ["unbounded", "unbounded"]},
                        },
                    },
                }
            },
            {"$sort": {"t": 1}},
        ],
        df,
    ).collect()
    r = out[0]
    assert r["f2"] == ["x", "y"] and r["l2"] == ["z", "w"]
    assert r["m2"] == [10.0, 20.0] and r["x2"] == [30.0, 20.0]
    assert r["s"] == ["a"]
    # $top with v desc: null v ranks LOWEST under BSON order, so the
    # top is the largest value (30 -> "x"); bottomN keeps sort order
    assert r["best"] == "x"
    assert r["worst2"] == ["y", "w"]
    with pytest.raises(PipelineError, match="positive integer n"):
        run(
            [
                {
                    "$setWindowFields": {
                        "sortBy": {"t": 1},
                        "output": {
                            "x": {"$topN": {"sortBy": {"v": 1}, "output": "$tag"}}
                        },
                    }
                }
            ],
            df,
        )


def test_date_from_parts_iso_form(spark):
    df = spark.createDataFrame([(1,)], "id INT")
    out = run(
        [
            {
                "$project": {
                    # 2024 ISO week 1 Monday is 2024-01-01
                    "a": {
                        "$dateFromParts": {
                            "isoWeekYear": 2024,
                            "isoWeek": 1,
                            "isoDayOfWeek": 1,
                        }
                    },
                    # week 2, Sunday -> 2024-01-14
                    "b": {
                        "$dateFromParts": {
                            "isoWeekYear": 2024,
                            "isoWeek": 2,
                            "isoDayOfWeek": 7,
                            "hour": 6,
                        }
                    },
                    # 2026 ISO week 1 starts Mon 2025-12-29 (Jan 4
                    # 2026 is a Sunday) — week-1 edge across years
                    "c": {
                        "$dateFromParts": {
                            "isoWeekYear": 2026,
                            "isoWeek": 1,
                            "isoDayOfWeek": 1,
                        }
                    },
                    # carry: isoWeek 54 of 2024 flows into 2025
                    "d": {
                        "$dateFromParts": {
                            "isoWeekYear": 2024,
                            "isoWeek": 54,
                            "isoDayOfWeek": 1,
                        }
                    },
                }
            }
        ],
        df,
    ).collect()[0]
    assert str(out["a"]) == "2024-01-01 00:00:00"
    assert str(out["b"]) == "2024-01-14 06:00:00"
    assert str(out["c"]) == "2025-12-29 00:00:00"
    assert str(out["d"]) == "2025-01-06 00:00:00"
    with pytest.raises(PipelineError, match="fields"):
        run(
            [{"$project": {"x": {"$dateFromParts": {"isoWeekYear": 2024, "month": 2}}}}],
            df,
        )


def test_date_string_conversions_options(spark):
    df = spark.createDataFrame(
        [(1, "2024-03-05 06:07:08"), (2, "not a date"), (3, None)],
        "id INT, s STRING",
    )
    out = run(
        [
            {
                "$project": {
                    "id": 1,
                    "p": {
                        "$dateFromString": {
                            "dateString": "$s",
                            "onError": {"$literal": None},
                            "onNull": {
                                "$dateFromString": {
                                    "dateString": "1970-01-01 00:00:00"
                                }
                            },
                        }
                    },
                }
            },
            {
                "$project": {
                    "id": 1,
                    "iso": {"$dateToString": {"date": "$p"}},
                    "fmt": {
                        "$dateToString": {
                            "date": "$p",
                            "format": "%Y/%m/%d",
                            "onNull": "missing",
                        }
                    },
                }
            },
        ],
        df,
    ).collect()
    by_id = {r["id"]: r for r in out}
    assert by_id[1]["iso"] == "2024-03-05T06:07:08.000Z"
    assert by_id[1]["fmt"] == "2024/03/05"
    assert by_id[2]["iso"] is None and by_id[2]["fmt"] == "missing"
    assert by_id[3]["iso"] == "1970-01-01T00:00:00.000Z"  # onNull epoch
    with pytest.raises(PipelineError, match="timezone"):
        run(
            [
                {
                    "$project": {
                        "x": {
                            "$dateFromString": {
                                "dateString": "$s",
                                "timezone": "America/New_York",
                            }
                        }
                    }
                }
            ],
            df,
        )


def test_window_range_date_unit(spark):
    from datetime import datetime as DT

    df = spark.createDataFrame(
        [
            ("a", DT(2026, 8, 14, 10, 0), 1.0),
            ("a", DT(2026, 8, 14, 10, 30), 2.0),
            ("a", DT(2026, 8, 14, 11, 0), 4.0),
            ("a", DT(2026, 8, 14, 13, 0), 8.0),
            ("b", DT(2026, 8, 14, 10, 0), 16.0),
        ],
        "g STRING, ts TIMESTAMP, v DOUBLE",
    )
    got = {
        (r["g"], r["ts"].hour, r["ts"].minute): r["s"]
        for r in run(
            [
                {
                    "$setWindowFields": {
                        "partitionBy": "$g",
                        "sortBy": {"ts": 1},
                        "output": {
                            "s": {
                                "$sum": "$v",
                                "window": {
                                    "range": [-1, 0],
                                    "unit": "hour",
                                },
                            }
                        },
                    }
                }
            ],
            df,
        ).collect()
    }
    # frame covers sort values in [cur - 1h, cur]; boundaries inclusive
    assert got[("a", 10, 0)] == 1.0
    assert got[("a", 10, 30)] == 3.0
    assert got[("a", 11, 0)] == 7.0  # 10:00 is exactly on the lower bound
    assert got[("a", 13, 0)] == 8.0
    assert got[("b", 10, 0)] == 16.0
    # calendar units are not fixed-width -> declared narrower
    with pytest.raises(PipelineError, match="fixed-width"):
        run(
            [
                {
                    "$setWindowFields": {
                        "sortBy": {"ts": 1},
                        "output": {
                            "s": {
                                "$sum": "$v",
                                "window": {"range": [-1, 0], "unit": "month"},
                            }
                        },
                    }
                }
            ],
            df,
        )


def test_date_to_parts_iso8601(spark):
    from datetime import datetime as DT

    df = spark.createDataFrame(
        [
            (1, DT(2000, 1, 1, 6, 7, 8, 123000)),   # Saturday -> ISO 1999-W52-6
            (2, DT(2021, 1, 1)),                     # Friday  -> ISO 2020-W53-5
            (3, DT(2026, 8, 14)),                    # Friday  -> ISO 2026-W33-5
        ],
        "id INT, d TIMESTAMP",
    )
    got = {
        r["id"]: r["p"].asDict()
        for r in run(
            [{"$project": {"id": 1, "p": {"$dateToParts": {"date": "$d", "iso8601": True}}}}],
            df,
        ).collect()
    }
    assert got[1] == {
        "isoWeekYear": 1999, "isoWeek": 52, "isoDayOfWeek": 6,
        "hour": 6, "minute": 7, "second": 8, "millisecond": 123,
    }
    assert (got[2]["isoWeekYear"], got[2]["isoWeek"], got[2]["isoDayOfWeek"]) == (2020, 53, 5)
    assert (got[3]["isoWeekYear"], got[3]["isoWeek"], got[3]["isoDayOfWeek"]) == (2026, 33, 5)


def test_date_trunc_bin_size(spark):
    from datetime import datetime as DT

    df = spark.createDataFrame(
        [
            (1, DT(2000, 1, 5)),            # day/3 from 2000-01-01 -> 2000-01-04
            (2, DT(2026, 8, 14, 15, 30)),   # hour/6 -> 12:00; week -> Sun Aug 9
            (3, DT(1999, 12, 31)),          # day/2, pre-anchor -> 1999-12-30
        ],
        "id INT, d TIMESTAMP",
    )

    def one(expr):
        return {
            r["id"]: r["t"]
            for r in run([{"$project": {"id": 1, "t": expr}}], df).collect()
        }

    got = one({"$dateTrunc": {"date": "$d", "unit": "day", "binSize": 3}})
    assert got[1] == DT(2000, 1, 4)
    got = one({"$dateTrunc": {"date": "$d", "unit": "day", "binSize": 2}})
    assert got[3] == DT(1999, 12, 30)
    got = one({"$dateTrunc": {"date": "$d", "unit": "hour", "binSize": 6}})
    assert got[2] == DT(2026, 8, 14, 12, 0)
    # week bins anchor on startOfWeek (Mongo default: Sunday)
    got = one({"$dateTrunc": {"date": "$d", "unit": "week"}})
    assert got[2] == DT(2026, 8, 9)
    got = one({"$dateTrunc": {"date": "$d", "unit": "week", "startOfWeek": "monday"}})
    assert got[2] == DT(2026, 8, 10)
    got = one({"$dateTrunc": {"date": "$d", "unit": "week", "binSize": 2, "startOfWeek": "mon"}})
    # 2-week bins from Mon 2000-01-03: Mon 2026-08-10 is 1388 weeks after
    # the anchor (even) -> bin floor stays 2026-08-10
    assert got[2] == DT(2026, 8, 10)
    got = one({"$dateTrunc": {"date": "$d", "unit": "month", "binSize": 5}})
    assert got[2] == DT(2026, 4, 1)
    got = one({"$dateTrunc": {"date": "$d", "unit": "quarter", "binSize": 2}})
    assert got[2] == DT(2026, 7, 1)
    got = one({"$dateTrunc": {"date": "$d", "unit": "year", "binSize": 10}})
    assert got[2] == DT(2020, 1, 1)
    with pytest.raises(PipelineError, match="binSize"):
        one({"$dateTrunc": {"date": "$d", "unit": "day", "binSize": 0}})
    with pytest.raises(PipelineError, match="binSize"):
        one({"$dateTrunc": {"date": "$d", "unit": "day", "binSize": 1.5}})


def test_unwind_nested_include_array_index(spark):
    df = spark.createDataFrame(
        [(1, ([10, 20],)), (2, ([],)), (3, (None,))],
        "id INT, sub STRUCT<xs: ARRAY<INT>>",
    )
    got = run(
        [
            {
                "$unwind": {
                    "path": "$sub.xs",
                    "includeArrayIndex": "i",
                    "preserveNullAndEmptyArrays": True,
                }
            }
        ],
        df,
    ).collect()
    rows = sorted(
        ((r["id"], r["sub"]["xs"], r["i"]) for r in got),
        key=lambda t: (t[0], t[2] if t[2] is not None else -1),
    )
    assert rows == [(1, 10, 0), (1, 20, 1), (2, None, None), (3, None, None)]
    # without preserve, empty/null rows drop
    got = run(
        [{"$unwind": {"path": "$sub.xs", "includeArrayIndex": "i"}}], df
    ).collect()
    assert sorted((r["id"], r["sub"]["xs"], r["i"]) for r in got) == [
        (1, 10, 0), (1, 20, 1),
    ]


def _merge_into(spark, rows, schema, path, buckets=None, **spec_extra):
    df = spark.createDataFrame(rows, schema)
    spec = {"into": "t", "on": "id", **spec_extra}
    if buckets is not None:
        spec["buckets"] = buckets
    return translate_pipeline([{"$merge": spec}], sinks={"t": path})(df)


def test_merge_bucketed_prunes_untouched_buckets(spark, tmp_path):
    import os

    path = str(tmp_path / "bsink")
    _merge_into(
        spark,
        [(i, f"v{i}") for i in range(20)],
        "id INT, val STRING",
        path,
        buckets=8,
    )
    with open(os.path.join(path, "_manifest")) as fh:
        m1 = dict(
            ln.split(":", 1) for ln in fh.read().splitlines()[1:] if ln.strip()
        )
    # second merge touches exactly one key -> at most one bucket moves
    got = _merge_into(
        spark, [(3, "NEW")], "id INT, val STRING", path, buckets=8
    )
    with open(os.path.join(path, "_manifest")) as fh:
        m2 = dict(
            ln.split(":", 1) for ln in fh.read().splitlines()[1:] if ln.strip()
        )
    moved = [k for k in m1 if m2[k] != m1[k]]
    assert len(moved) == 1  # only the bucket containing id=3 rewrote
    unchanged = [k for k in m1 if m2[k] == m1[k]]
    assert len(unchanged) == len(m1) - 1
    vals = {r["id"]: r["val"] for r in got.collect()}
    assert vals[3] == "NEW" and vals[4] == "v4" and len(vals) == 20


def test_merge_bucketed_equals_whole_table(spark, tmp_path):
    base = [(i, f"v{i}", i * 10) for i in range(30)]
    upd = [(5, "X", -1), (31, "new", 310), (17, "Y", -2)]
    schema = "id INT, val STRING, n INT"
    p_plain = str(tmp_path / "plain")
    p_buck = str(tmp_path / "buck")
    for p, b in ((p_plain, None), (p_buck, 4)):
        _merge_into(spark, base, schema, p, buckets=b)
        _merge_into(spark, upd, schema, p, buckets=b)
    from pymongo_change_stream_reader_spark.plans.pipeline import (
        read_versioned_sink,
    )

    plain = sorted(map(tuple, read_versioned_sink(spark, p_plain).collect()))
    buck = sorted(map(tuple, read_versioned_sink(spark, p_buck).collect()))
    assert plain == buck
    # rollback snapshot: version=-1 returns the pre-update table
    prev = sorted(map(tuple, read_versioned_sink(spark, p_buck, -1).collect()))
    assert prev == sorted(base)


def test_merge_bucketed_mode_and_count_guards(spark, tmp_path):
    path = str(tmp_path / "guard")
    _merge_into(spark, [(1, "a")], "id INT, val STRING", path, buckets=4)
    with pytest.raises(PipelineError, match="bucket count"):
        _merge_into(spark, [(2, "b")], "id INT, val STRING", path, buckets=8)
    with pytest.raises(PipelineError, match="BUCKETED"):
        _merge_into(spark, [(2, "b")], "id INT, val STRING", path)
    # whenMatched fail probes only the changed buckets but still fails
    with pytest.raises(PipelineError, match="whenMatched"):
        _merge_into(
            spark,
            [(1, "dup")],
            "id INT, val STRING",
            path,
            buckets=4,
            whenMatched="fail",
        )
    # plain target cannot silently become bucketed
    p2 = str(tmp_path / "plain2")
    _merge_into(spark, [(1, "a")], "id INT, val STRING", p2)
    with pytest.raises(PipelineError, match="WHOLE-TABLE"):
        _merge_into(spark, [(2, "b")], "id INT, val STRING", p2, buckets=4)


def test_lookup_combined_local_field_pipeline(spark):
    """Mongo 5.0+ combined $lookup: localField/foreignField together
    with a pipeline — desugared to the implicit let + $expr $eq."""
    orders = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "oid INT, cust STRING"
    )
    items = spark.createDataFrame(
        [("a", 5, "x"), ("a", 50, "y"), ("b", 7, "z")],
        "cust STRING, qty INT, sku STRING",
    )
    got = {
        r["oid"]: [i["sku"] for i in r["big"]]
        for r in run(
            [
                {
                    "$lookup": {
                        "from": "items",
                        "localField": "cust",
                        "foreignField": "cust",
                        "pipeline": [{"$match": {"qty": {"$gte": 10}}}],
                        "as": "big",
                    }
                }
            ],
            orders,
            tables={"items": items},
        ).collect()
    }
    assert got == {1: ["y"], 2: [], 3: []}
    # empty pipeline == the basic equality form
    combined = run(
        [
            {
                "$lookup": {
                    "from": "items",
                    "localField": "cust",
                    "foreignField": "cust",
                    "pipeline": [],
                    "as": "m",
                }
            }
        ],
        orders,
        tables={"items": items},
    )
    basic = run(
        [
            {
                "$lookup": {
                    "from": "items",
                    "localField": "cust",
                    "foreignField": "cust",
                    "as": "m",
                }
            }
        ],
        orders,
        tables={"items": items},
    )
    norm = lambda df: sorted(
        (r["oid"], sorted((i["cust"], i["qty"], i["sku"]) for i in r["m"]))
        for r in df.collect()
    )
    assert norm(combined) == norm(basic)
    # one-sided spec still rejected
    with pytest.raises(PipelineError, match="BOTH"):
        run(
            [
                {
                    "$lookup": {
                        "from": "items",
                        "localField": "cust",
                        "pipeline": [],
                        "as": "m",
                    }
                }
            ],
            orders,
            tables={"items": items},
        )


def test_set_window_fields_dotted_output(spark):
    """Mongo writes dotted output paths INTO the nested document."""
    df = spark.createDataFrame(
        [(1, 10.0, (0.0,)), (2, 20.0, (0.0,)), (3, 30.0, (0.0,))],
        "id INT, v DOUBLE, stats STRUCT<run: DOUBLE>",
    )
    got = {
        r["id"]: r
        for r in run(
            [
                {
                    "$setWindowFields": {
                        "sortBy": {"id": 1},
                        "output": {
                            "stats.run": {
                                "$sum": "$v",
                                "window": {
                                    "documents": ["unbounded", "current"]
                                },
                            },
                            "rnk": {"$rank": {}},
                        },
                    }
                }
            ],
            df,
        ).collect()
    }
    assert got[2]["stats"]["run"] == 30.0 and got[3]["stats"]["run"] == 60.0
    assert got[2]["rnk"] == 2
    assert "stats.run" not in got[1].asDict()  # no flat dotted column


def test_date_trunc_bin_size_property(spark):
    """Randomized $dateTrunc binSize vs a pure-Python replay of
    Mongo's anchor arithmetic (reference point 2000-01-01, week
    anchors on startOfWeek)."""
    import random
    from datetime import datetime, timedelta, timezone

    rng = random.Random(42)
    anchor = datetime(2000, 1, 1, tzinfo=timezone.utc)

    def py_trunc(dt, unit, bin_size, sow="sunday"):
        if unit in ("month", "quarter", "year"):
            step = {"month": 1, "quarter": 3, "year": 12}[unit] * bin_size
            months = (dt.year - 2000) * 12 + dt.month - 1
            k = months - ((months % step) + step) % step
            y, m = 2000 + k // 12, k % 12 + 1
            return datetime(y, m, 1)
        if unit == "week":
            offsets = {"saturday": 0, "sunday": 1, "monday": 2,
                       "tuesday": 3, "wednesday": 4, "thursday": 5,
                       "friday": 6}
            a = anchor + timedelta(days=offsets[sow])
            width = bin_size * 7 * 86400
        else:
            a = anchor
            width = bin_size * {"day": 86400, "hour": 3600,
                                "minute": 60, "second": 1}[unit]
        x = int((dt - a).total_seconds())
        off = ((x % width) + width) % width
        return (dt - timedelta(seconds=off)).replace(tzinfo=None)

    cases = []
    for _ in range(40):
        dt = datetime(1995, 1, 1, tzinfo=timezone.utc) + timedelta(
            seconds=rng.randint(0, 40 * 365 * 86400)
        )
        unit = rng.choice(
            ["day", "hour", "minute", "second", "week", "month",
             "quarter", "year"]
        )
        bin_size = rng.randint(1, 9)
        sow = rng.choice(["sunday", "monday", "thursday"])
        cases.append((dt, unit, bin_size, sow))
    df = spark.createDataFrame(
        [(i, c[0].replace(tzinfo=None)) for i, c in enumerate(cases)],
        "id INT, d TIMESTAMP",
    )
    exprs = {
        f"t{i}": {
            "$dateTrunc": {
                "date": "$d",
                "unit": u,
                "binSize": b,
                **({"startOfWeek": s} if u == "week" else {}),
            }
        }
        for i, (_, u, b, s) in enumerate(cases)
    }
    row = {
        r["id"]: r
        for r in run([{"$project": {"id": 1, **exprs}}], df).collect()
    }
    for i, (dt, u, b, s) in enumerate(cases):
        got = row[i][f"t{i}"]
        want = py_trunc(dt, u, b, s)
        assert got == want, (i, dt, u, b, s, got, want)


def test_type_expression_operator(spark):
    df = spark.createDataFrame(
        [(1, "s", 2.5, [1], (1,), None)],
        "i INT, s STRING, d DOUBLE, arr ARRAY<INT>, st STRUCT<x: INT>, "
        "miss STRING",
    )
    row = run(
        [
            {
                "$project": {
                    "ti": {"$type": "$i"},
                    "ts": {"$type": "$s"},
                    "td": {"$type": "$d"},
                    "ta": {"$type": "$arr"},
                    "to": {"$type": "$st"},
                    "tn": {"$type": "$miss"},
                    "tl": {"$type": {"$literal": 9999999999}},
                }
            }
        ],
        df,
    ).collect()[0]
    assert (row["ti"], row["ts"], row["td"]) == ("int", "string", "double")
    assert (row["ta"], row["to"], row["tn"]) == ("array", "object", "null")
    assert row["tl"] == "long"


def test_merge_bucketed_equals_whole_table_mode_matrix(spark, tmp_path):
    """Randomized: for every whenMatched x whenNotMatched mode pair
    (fail modes excluded — they abort identically), a bucketed merge
    sequence lands byte-identical to the whole-table protocol."""
    import random

    from pymongo_change_stream_reader_spark.plans.pipeline import (
        read_versioned_sink,
    )

    rng = random.Random(7)
    modes_m = ["replace", "keepExisting", "merge"]
    modes_n = ["insert", "discard"]
    for trial, (wm, wn) in enumerate(
        [(m, n) for m in modes_m for n in modes_n]
    ):
        base = [(i, f"v{i}", i) for i in rng.sample(range(50), 20)]
        upd = [
            (rng.randrange(60), f"u{j}", -j) for j in range(8)
        ]
        schema = "id INT, val STRING, n INT"
        p_plain = str(tmp_path / f"plain{trial}")
        p_buck = str(tmp_path / f"buck{trial}")
        for p, b in ((p_plain, None), (p_buck, 5)):
            _merge_into(spark, base, schema, p, buckets=b)
            _merge_into(
                spark, upd, schema, p, buckets=b,
                whenMatched=wm, whenNotMatched=wn,
            )
        plain = sorted(
            map(tuple, read_versioned_sink(spark, p_plain).collect())
        )
        buck = sorted(
            map(tuple, read_versioned_sink(spark, p_buck).collect())
        )
        assert plain == buck, (wm, wn)


def test_merge_bucketed_pipeline_when_matched(spark, tmp_path):
    """whenMatched custom-update pipelines run identically through the
    bucket-pruned path."""
    from pymongo_change_stream_reader_spark.plans.pipeline import (
        read_versioned_sink,
    )

    base = [(i, i * 10) for i in range(12)]
    upd = [(3, 999), (7, 999), (20, 5)]
    schema = "id INT, n INT"
    wm = [{"$set": {"n": {"$add": ["$n", {"$multiply": ["$$new.n", 0]}, 1]}}}]
    outs = []
    for p, b in ((str(tmp_path / "p"), None), (str(tmp_path / "b"), 4)):
        _merge_into(spark, base, schema, p, buckets=b)
        _merge_into(spark, upd, schema, p, buckets=b, whenMatched=wm)
        outs.append(
            sorted(map(tuple, read_versioned_sink(spark, p).collect()))
        )
    assert outs[0] == outs[1]
    vals = dict(outs[1])
    assert vals[3] == 31 and vals[7] == 71  # stored n + 1
    assert vals[20] == 5  # inserted unmatched


def test_bucketed_manifest_corruption_raises(spark, tmp_path):
    import os

    path = str(tmp_path / "sink")
    _merge_into(spark, [(1, "a")], "id INT, val STRING", path, buckets=2)
    with open(os.path.join(path, "_manifest"), "w") as fh:
        fh.write("buckets=2\nnot_a_number:v-000001/__bucket=0")
    with pytest.raises(PipelineError, match="corrupt bucketed-sink"):
        _merge_into(spark, [(2, "b")], "id INT, val STRING", path, buckets=2)


def test_merge_bucketed_time_travel_retain(spark, tmp_path):
    """retain=3: the three newest commits stay readable via version
    0/-1/-2; -3 is outside the window and says so."""
    from pymongo_change_stream_reader_spark.storage import (
        read_bucketed_sink,
    )

    path = str(tmp_path / "tt")
    schema = "id INT, val STRING"
    for step in range(4):  # 4 commits, window keeps the newest 3
        _merge_into(
            spark, [(1, f"s{step}")], schema, path, buckets=4, retain=3
        )
    assert read_bucketed_sink(spark, path).collect()[0]["val"] == "s3"
    assert read_bucketed_sink(spark, path, -1).collect()[0]["val"] == "s2"
    assert read_bucketed_sink(spark, path, -2).collect()[0]["val"] == "s1"
    with pytest.raises(PipelineError, match="retention window"):
        read_bucketed_sink(spark, path, -3)
    with pytest.raises(PipelineError, match="version"):
        read_bucketed_sink(spark, path, 1)


def test_merge_bucketed_vacuum_under_concurrent_reader(spark, tmp_path):
    """vacuum keeps the newest `keep` commits; a reader that already
    resolved a RETAINED version keeps working, and re-resolving a
    vacuumed version raises rather than reading stale dirs."""
    import os

    from pymongo_change_stream_reader_spark.storage import (
        read_bucketed_sink,
        vacuum_bucketed_sink,
    )

    path = str(tmp_path / "vac")
    schema = "id INT, val STRING"
    # a single key -> every commit rewrites exactly one bucket, so each
    # manifest references exactly its own vdir and the post-vacuum disk
    # state is fully determined
    for step in range(4):
        _merge_into(
            spark, [(7, f"s{step}")], schema, path, buckets=4, retain=4
        )
    # concurrent reader pins version -1 (commit s2) BEFORE the vacuum
    pinned = read_bucketed_sink(spark, path, -1)
    dropped = vacuum_bucketed_sink(path, keep=2)
    assert dropped == 2
    # the pinned version (-1) is inside keep=2 -> its files survive GC
    assert {r["val"] for r in pinned.collect()} == {"s2"}
    assert read_bucketed_sink(spark, path, -1).collect()[0]["val"] == "s2"
    with pytest.raises(PipelineError, match="retention window"):
        read_bucketed_sink(spark, path, -2)
    # version dirs outside the window are GONE from disk
    vdirs = sorted(d for d in os.listdir(path) if d.startswith("v-"))
    assert vdirs == ["v-000003", "v-000004"]
    with pytest.raises(PipelineError, match=">= 1"):
        vacuum_bucketed_sink(path, keep=0)


def test_bucketed_prev_manifest_corrupt_shares_validation(spark, tmp_path):
    """ADVICE r3: version=-1 must go through read_bucket_manifest so a
    truncated/corrupt snapshot raises the documented PipelineError, not
    a raw ValueError."""
    import os

    from pymongo_change_stream_reader_spark.storage import (
        read_bucketed_sink,
    )

    path = str(tmp_path / "corrupt_prev")
    _merge_into(spark, [(1, "a")], "id INT, val STRING", path, buckets=2)
    _merge_into(spark, [(1, "b")], "id INT, val STRING", path, buckets=2)
    # corrupt the -1 snapshot (history file for the previous commit)
    for name in os.listdir(path):
        if name.startswith("_manifest.h-") and name < "_manifest.h-v-000002":
            with open(os.path.join(path, name), "w") as fh:
                fh.write("buckets=2\nnot_a_number:v-000001/__bucket=0")
    with pytest.raises(PipelineError, match="corrupt bucketed-sink"):
        read_bucketed_sink(spark, path, -1)


def test_bucketed_legacy_prev_fallback(spark, tmp_path):
    """A sink written before history snapshots existed (only
    _manifest + _manifest.prev on disk) still answers version=-1."""
    import os

    from pymongo_change_stream_reader_spark.storage import (
        read_bucketed_sink,
    )

    path = str(tmp_path / "legacy")
    _merge_into(spark, [(1, "old")], "id INT, val STRING", path, buckets=2)
    _merge_into(spark, [(1, "new")], "id INT, val STRING", path, buckets=2)
    for name in list(os.listdir(path)):
        if name.startswith("_manifest.h-"):
            os.unlink(os.path.join(path, name))
    assert read_bucketed_sink(spark, path, -1).collect()[0]["val"] == "old"


def test_millisecond_pre_epoch_floored(spark):
    """$millisecond (standalone) and both $dateToParts forms must
    return 0..999 for pre-1970 timestamps (review r4: the standalone
    operator had kept the signed mod)."""
    df = spark.createDataFrame(
        [("1969-12-31 23:59:59.500",), ("1971-01-01 00:00:00.250",)],
        "ts STRING",
    ).selectExpr("CAST(ts AS TIMESTAMP) AS d")
    got = run(
        [
            {
                "$project": {
                    "ms": {"$millisecond": "$d"},
                    "parts": {"$dateToParts": {"date": "$d"}},
                    "iso": {
                        "$dateToParts": {"date": "$d", "iso8601": True}
                    },
                }
            }
        ],
        df,
    ).collect()
    assert [r["ms"] for r in got] == [500, 250]
    assert [r["parts"]["millisecond"] for r in got] == [500, 250]
    assert [r["iso"]["millisecond"] for r in got] == [500, 250]


def test_vacuum_refuses_whole_table_sink(spark, tmp_path):
    """Review r4: vacuum on a WHOLE-TABLE versioned sink must refuse
    loudly — its empty survivor set would otherwise delete every
    version dir including the current commit."""
    import os

    from pymongo_change_stream_reader_spark.plans.pipeline import (
        read_versioned_sink,
    )
    from pymongo_change_stream_reader_spark.storage import (
        vacuum_bucketed_sink,
    )

    path = str(tmp_path / "whole")
    _merge_into(spark, [(1, "a")], "id INT, val STRING", path)  # no buckets
    with pytest.raises(PipelineError, match="not a bucketed"):
        vacuum_bucketed_sink(path, keep=1)
    assert read_versioned_sink(spark, path).count() == 1
    assert any(d.startswith("v-") for d in os.listdir(path))


def test_merge_bucketed_invalid_retain_leaves_sink_untouched(spark, tmp_path):
    """Review r4: retain validation must run BEFORE any filesystem
    mutation — a failed merge cannot half-install a commit."""
    import os

    from pymongo_change_stream_reader_spark.storage import (
        read_bucketed_sink,
    )

    path = str(tmp_path / "guard")
    _merge_into(spark, [(1, "a")], "id INT, val STRING", path, buckets=2)
    before = sorted(os.listdir(path))
    with pytest.raises(PipelineError, match="retain"):
        _merge_into(
            spark, [(1, "b")], "id INT, val STRING", path, buckets=2,
            retain=0,
        )
    assert sorted(os.listdir(path)) == before
    assert read_bucketed_sink(spark, path).collect()[0]["val"] == "a"


def test_merge_bucketed_version_numbers_never_recycle(spark, tmp_path):
    """Review r4: a commit whose merged frame is EMPTY (first merge
    with whenNotMatched=discard) gets its v-dir GC'd; the next commit
    must still take a FRESH version number — reusing it would clobber
    the empty commit's history snapshot and silently skip it in time
    travel."""
    import os

    from pymongo_change_stream_reader_spark.storage import (
        read_bucketed_sink,
    )

    path = str(tmp_path / "norecycle")
    # commit 1: everything discarded -> empty manifest, v-000001 GC'd
    _merge_into(
        spark, [(1, "x")], "id INT, val STRING", path, buckets=2,
        whenNotMatched="discard", retain=3,
    )
    assert read_bucketed_sink(spark, path) is None  # honest empty state
    # commit 2: real rows — must NOT reuse v-000001's number
    _merge_into(
        spark, [(1, "y")], "id INT, val STRING", path, buckets=2, retain=3
    )
    hist = sorted(
        h for h in os.listdir(path) if h.startswith("_manifest.h-")
    )
    assert hist == ["_manifest.h-v-000001", "_manifest.h-v-000002"]
    assert read_bucketed_sink(spark, path).collect()[0]["val"] == "y"
    # version -1 is the empty commit (None = no live buckets), intact
    assert read_bucketed_sink(spark, path, -1) is None


def test_bucketed_history_ignores_tmp_and_retain_one(spark, tmp_path):
    """Review r4: a crash leftover `_manifest.h-*.tmp` must never be
    parsed as a history entry, and retain=1 keeps ONLY the current
    commit (no _manifest.prev resurrection of version -1)."""
    import os

    from pymongo_change_stream_reader_spark.storage import (
        read_bucketed_sink,
    )

    path = str(tmp_path / "r1")
    schema = "id INT, val STRING"
    _merge_into(spark, [(1, "a")], schema, path, buckets=2, retain=1)
    # plant a crash leftover from a hypothetical interrupted snapshot
    with open(os.path.join(path, "_manifest.h-v-000099.tmp"), "w") as fh:
        fh.write("buckets=2")  # truncated — must never be read
    _merge_into(spark, [(1, "b")], schema, path, buckets=2, retain=1)
    assert read_bucketed_sink(spark, path).collect()[0]["val"] == "b"
    # retain=1: nothing before the current commit is retained
    assert read_bucketed_sink(spark, path, -1) is None
    assert not os.path.exists(os.path.join(path, "_manifest.prev"))
    hist = [h for h in os.listdir(path) if h.startswith("_manifest.h-")]
    assert sorted(h for h in hist if not h.endswith(".tmp")) == [
        "_manifest.h-v-000002"
    ]


def test_bucketed_history_numeric_order_beyond_padding(spark, tmp_path):
    """Review r4: history ordering is numeric, so version numbers past
    the 6-digit zero-padding (v-1000000) still sort after v-999999."""
    from pymongo_change_stream_reader_spark.storage import (
        bucket_history_files,
    )
    import os

    path = str(tmp_path / "big")
    os.makedirs(path)
    for n in ("000002", "999999", "1000000", "1000001"):
        with open(os.path.join(path, f"_manifest.h-v-{n}"), "w") as fh:
            fh.write("buckets=2")
    assert bucket_history_files(path) == [
        "_manifest.h-v-000002",
        "_manifest.h-v-999999",
        "_manifest.h-v-1000000",
        "_manifest.h-v-1000001",
    ]
