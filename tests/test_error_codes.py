"""Structured error codes (STRAKE-NNNN) — the stable cross-component
contract API users branch on.

Mirrors the reference's code.rs tests (crates/error/src/code.rs:215-260:
formatting, parsing, parse errors, categories) and verifies the codes
survive every hop we ship: exception defaults, REST error payloads,
Flight marker -> remote client re-raise, drift warnings, and the MCP
guard finding."""

from __future__ import annotations

import threading

import pytest

from strake_spark.errors import (
    BudgetExceeded,
    CircuitOpen,
    ErrorCategory,
    ErrorCode,
    QueryRejected,
    QueryTimeout,
    SourceError,
    StrakeError,
)


class TestFormatting:
    def test_goldens(self):
        # code.rs:217-221 golden strings
        assert ErrorCode.SOURCE_NOT_FOUND.as_str() == "STRAKE-1001"
        assert ErrorCode.SYNTAX_ERROR.as_str() == "STRAKE-2001"
        assert ErrorCode.UNKNOWN.as_str() == "STRAKE-9999"

    def test_str_is_formatted_code(self):
        assert str(ErrorCode.BUDGET_EXCEEDED) == "STRAKE-2006"
        assert f"[{ErrorCode.SCHEMA_DRIFT_MISSING_COLUMN}]" == "[STRAKE-2009]"


class TestParsing:
    @pytest.mark.parametrize(
        "s,code",
        [
            ("STRAKE-1001", ErrorCode.SOURCE_NOT_FOUND),
            ("STRAKE-9999", ErrorCode.UNKNOWN),
            ("STRAKE-2009", ErrorCode.SCHEMA_DRIFT_MISSING_COLUMN),
            ("STRAKE-2010", ErrorCode.SCHEMA_DRIFT_TYPE_CHANGED),
            ("STRAKE-2011", ErrorCode.SCHEMA_DRIFT_EXTRA_COLUMN),
            ("STRAKE-2012", ErrorCode.PROMPT_INJECTION_DETECTED),
        ],
    )
    def test_round_trip(self, s, code):
        assert ErrorCode.parse(s) is code
        assert code.as_str() == s

    @pytest.mark.parametrize("bad", ["INVALID", "STRAKE-0000", "STRAKE-ABC", "", "1001"])
    def test_parse_errors(self, bad):
        # code.rs:248-252: bad format and unknown numbers both fail
        with pytest.raises(ValueError):
            ErrorCode.parse(bad)

    def test_every_code_round_trips(self):
        for code in ErrorCode:
            assert ErrorCode.parse(code.as_str()) is code


class TestCategories:
    def test_range_categories(self):
        # code.rs:255-260
        assert ErrorCode.SOURCE_NOT_FOUND.category is ErrorCategory.CONNECTION
        assert ErrorCode.SYNTAX_ERROR.category is ErrorCategory.QUERY
        assert ErrorCode.INVALID_YAML.category is ErrorCategory.CONFIG
        assert ErrorCode.AUTHENTICATION_FAILED.category is ErrorCategory.AUTH
        assert ErrorCode.INTERNAL_PANIC.category is ErrorCategory.INTERNAL
        assert ErrorCode.UNKNOWN.category is ErrorCategory.INTERNAL


class TestExceptionDefaults:
    def test_class_defaults(self):
        assert BudgetExceeded("x").code is ErrorCode.BUDGET_EXCEEDED
        assert QueryTimeout("x").code is ErrorCode.QUERY_CANCELLED
        assert QueryRejected("x").code is ErrorCode.SYNTAX_ERROR
        assert SourceError("x").code is ErrorCode.DATABASE_ERROR
        assert CircuitOpen("x").code is ErrorCode.CONNECTION_TIMEOUT
        assert StrakeError("x").code is ErrorCode.UNKNOWN

    def test_auth_and_key_and_metadata_defaults(self):
        from strake_spark.apikeys import ApiKeyError
        from strake_spark.jwtauth import AuthError
        from strake_spark.metadata import VersionConflict

        assert ApiKeyError("x").code is ErrorCode.INVALID_API_KEY
        assert AuthError("x").code is ErrorCode.AUTHENTICATION_FAILED
        assert VersionConflict("x").code is ErrorCode.CONFIG_ERROR

    def test_site_override_and_str_unchanged(self):
        e = QueryRejected("denied", code=ErrorCode.AUTHORIZATION_DENIED, hint="ask admin")
        assert e.code is ErrorCode.AUTHORIZATION_DENIED
        assert str(e) == "denied"  # message stays bare; code travels separately
        assert e.formatted == "[STRAKE-4002] denied (hint: ask admin)"

    def test_payload_shape(self):
        p = BudgetExceeded("too big").payload()
        assert p == {
            "code": "STRAKE-2006",
            "category": "query",
            "message": "too big",
        }

    def test_structured_context_travels_in_payload(self):
        # context.rs tagged-variant parity: a type key + variant fields
        e = BudgetExceeded(
            "rows over budget",
            context={"type": "budget_exceeded", "estimated_rows": 10, "limit": 1,
                     "suggestion": "add filters"},
        )
        assert e.payload()["context"]["type"] == "budget_exceeded"
        assert e.payload()["context"]["limit"] == 1

    def test_token_expired_site_override(self):
        import time

        from strake_spark.jwtauth import AuthError, _check_claims

        with pytest.raises(AuthError) as ei:
            _check_claims(
                {"exp": time.time() - 1000}, issuer=None, audience=None,
                leeway=0.0, now=None,
            )
        assert ei.value.code is ErrorCode.TOKEN_EXPIRED


class TestCategoryHierarchy:
    """Reference python/src/errors.rs:11-27: StrakeException + one
    exception class per category, so API users catch by family."""

    def test_category_parents(self):
        import strake_spark as ss
        from strake_spark import errors as E

        assert ss.StrakeException is ss.StrakeError
        assert issubclass(E.QueryRejected, E.QueryError)
        assert issubclass(E.BudgetExceeded, E.QueryError)
        assert issubclass(E.QueryTimeout, E.QueryError)
        assert issubclass(E.EngineError, E.QueryError)
        assert issubclass(E.SourceError, E.ConnectionError)
        assert issubclass(E.CircuitOpen, E.ConnectionError)
        for cls in (E.QueryError, E.ConnectionError, E.AuthError,
                    E.InternalError, E.ConfigError):
            assert issubclass(cls, E.StrakeError)

    def test_auth_family(self):
        from strake_spark import errors as E
        from strake_spark.apikeys import ApiKeyError
        from strake_spark.jwtauth import AuthError as JwtAuthError

        assert issubclass(ApiKeyError, E.AuthError)
        assert issubclass(JwtAuthError, E.AuthError)

    def test_catch_by_category(self, spark):
        import strake_spark as ss
        from tests.conftest import SF_DIR

        eng = ss.connect(
            {"sources": [{"name": "ch", "type": "parquet", "url": SF_DIR,
                          "tables": [{"name": "region"}]}]},
            spark=spark,
        )
        with pytest.raises(ss.QueryError) as ei:
            eng.execute("SELECT nope FROM ch_region")
        assert ei.value.code.category.value == "query"
        with pytest.raises(ss.QueryError):
            eng.execute("DROP TABLE ch_region")


class TestConfigErrorCodes:
    def test_bad_yaml_is_3001_and_still_valueerror(self, tmp_path):
        from strake_spark.config import load_config
        from strake_spark.errors import ConfigError

        bad = tmp_path / "strake.yaml"
        bad.write_text("sources: [unclosed\n  - nope: {")
        with pytest.raises(ConfigError) as ei:
            load_config(str(bad))
        assert ei.value.code is ErrorCode.INVALID_YAML
        assert isinstance(ei.value, ValueError)  # legacy catch sites hold

    def test_invalid_value_is_3006(self):
        from strake_spark.config import parse_config
        from strake_spark.errors import ConfigError

        with pytest.raises(ConfigError) as ei:
            parse_config({"user_slots": {"pat": 0}})
        assert ei.value.code is ErrorCode.CONFIG_ERROR

    def test_cli_maps_config_error_to_exit_3(self, tmp_path, capsys):
        from strake_spark import cli, exit_codes

        bad = tmp_path / "strake.yaml"
        bad.write_text("sources: [unclosed\n  - nope: {")
        # `query` loads the config in main's governed body (unlike
        # `validate`, which wraps its own load) — the new clause maps it
        rc = cli.main(["query", str(bad), "SELECT 1"])
        assert rc == exit_codes.CONFIG_ERROR


class TestDriftWarningCodes:
    def test_codes_prefix_warnings(self, spark):
        from pyspark.sql import types as T

        from strake_spark.sources.drift import reconcile

        df = spark.createDataFrame([(1, "a", 2.0)], "id int, extra string, v double")
        declared = T.StructType(
            [
                T.StructField("id", T.IntegerType()),
                T.StructField("v", T.StringType()),  # type drift
                T.StructField("missing", T.LongType()),  # null-fill
            ]
        )
        out = reconcile(df, declared, context="t")
        ws = out._strake_drift_warnings
        assert any(w.startswith("[STRAKE-2009]") and "missing" in w for w in ws)
        assert any(w.startswith("[STRAKE-2010]") and "type drift" in w for w in ws)
        assert any(w.startswith("[STRAKE-2011]") and "pruned" in w for w in ws)

    def test_structured_drift_log(self, spark):
        from pyspark.sql import types as T

        from strake_spark.sources.drift import clear_drift_log, drift_log, reconcile

        clear_drift_log()
        df = spark.createDataFrame([(1, "a", 2.0)], "id int, extra string, v double")
        declared = T.StructType(
            [
                T.StructField("id", T.IntegerType()),
                T.StructField("v", T.StringType()),
                T.StructField("missing", T.LongType()),
            ]
        )
        reconcile(df, declared, context="orders")
        (rec,) = drift_log()
        # context.rs SchemaDrift variant fields, tagged with codes
        assert rec["type"] == "schema_drift" and rec["table"] == "orders"
        assert rec["missing_columns"] == ["missing"]
        assert rec["type_mismatches"] == ["v: double -> string"]
        assert rec["extra_columns"] == ["extra"]
        assert rec["codes"] == ["STRAKE-2009", "STRAKE-2010", "STRAKE-2011"]
        assert rec["expected_columns"] == ["id", "v", "missing"]
        # no drift -> no record
        reconcile(df.select("id"), T.StructType([T.StructField("id", T.IntegerType())]))
        assert len(drift_log()) == 1
        clear_drift_log()

    def test_engine_drift_report_surface(self, spark, tmp_path):
        import strake_spark as ss
        from strake_spark.sources.drift import clear_drift_log

        clear_drift_log()
        spark.createDataFrame([(1, "x")], "id int, extra string").write.parquet(
            str(tmp_path / "t.parquet")
        )
        eng = ss.connect(
            {
                "sources": [
                    {"name": "dr", "type": "parquet", "url": str(tmp_path),
                     "tables": [{"name": "t", "columns": [
                         {"name": "id", "type": "integer"},
                         {"name": "missing_col", "type": "string"},
                     ]}]}
                ]
            },
            spark=spark,
        )
        report = eng.drift_report()
        assert any(
            "missing_col" in r["missing_columns"] and "extra" in r["extra_columns"]
            for r in report
        )
        clear_drift_log()


class TestFacades:
    @pytest.fixture(scope="class")
    def engine(self, spark):
        import strake_spark as ss
        from tests.conftest import SF_DIR

        return ss.connect(
            {
                "sources": [
                    {"name": "ec", "type": "parquet", "url": SF_DIR,
                     "tables": [{"name": "nation"}]}
                ]
            },
            spark=spark,
        )

    def test_rest_error_payload_carries_code(self, engine):
        import json
        import urllib.request

        from strake_spark.rest_api import make_rest_server

        srv = make_rest_server(engine).start()
        try:
            def post(path, payload):
                req = urllib.request.Request(
                    f"http://127.0.0.1:{srv.port}{path}",
                    data=json.dumps(payload).encode(),
                    headers={"Content-Type": "application/json"},
                )
                try:
                    with urllib.request.urlopen(req) as r:
                        return r.status, json.loads(r.read())
                except urllib.error.HTTPError as e:
                    return e.code, json.loads(e.read())

            import urllib.error

            # gate rejection (DDL) → QueryRejected → STRAKE-2001 / query
            code, body = post("/api/v1/query", {"sql": "DROP TABLE ec_nation"})
            assert code == 400
            assert body["status"] == "error"
            assert body["code"] == "STRAKE-2001"
            assert body["category"] == "query"
            # missing required field → STRAKE-3003 / config
            code, body = post("/api/v1/query", {})
            assert code == 400
            assert body["code"] == "STRAKE-3003"
            assert body["category"] == "config"
        finally:
            srv.stop()

    def test_flight_marker_carries_code_and_remote_preserves_it(self, engine):
        import strake_spark as ss
        from strake_spark.server import make_server

        srv = make_server(engine)
        t = threading.Thread(target=srv.serve, daemon=True)
        t.start()
        try:
            remote = ss.connect(f"grpc://127.0.0.1:{srv.port}")
            try:
                with pytest.raises(QueryRejected) as ei:
                    remote.execute("DELETE FROM ec_nation")
                assert ei.value.code is ErrorCode.SYNTAX_ERROR
                assert ei.value.code.as_str() == "STRAKE-2001"
            finally:
                remote.close()
        finally:
            srv.shutdown()

    def test_engine_classifies_spark_analysis_errors(self, engine):
        # convert.rs parity: field-not-found carries 2002 + did-you-mean,
        # table 2003, type mismatch 2004 — classified from Spark's error
        # CONDITION, never message prose
        from strake_spark.errors import EngineError

        with pytest.raises(EngineError) as ei:
            engine.execute("SELECT n_nmae FROM ec_nation")
        assert ei.value.code is ErrorCode.FIELD_NOT_FOUND
        assert ei.value.hint and "Did you mean" in ei.value.hint
        ctx = ei.value.context
        assert ctx["type"] == "field_not_found"
        assert ctx["available_fields"]  # Spark's closest matches
        with pytest.raises(EngineError) as ei:
            engine.execute("SELECT * FROM ec_nonexistent_table")
        assert ei.value.code is ErrorCode.TABLE_NOT_FOUND
        with pytest.raises(EngineError) as ei:
            engine.execute(
                "SELECT n_nationkey + interval 1 day AS x FROM ec_nation"
            )
        assert ei.value.code is ErrorCode.TYPE_MISMATCH

    @pytest.mark.parametrize("surface", ["execute", "profile"])
    @pytest.mark.parametrize(
        "sql,cls,code",
        [
            # run-time failure: the cast fails while rows are produced
            ("SELECT CAST(concat('x', n_nationkey) AS INT) AS v FROM ec_nation",
             "EngineError", ErrorCode.TYPE_MISMATCH),
            # gate rejection before planning
            ("DROP TABLE ec_nation", "QueryRejected", ErrorCode.SYNTAX_ERROR),
        ],
    )
    def test_execute_and_profile_classify_alike(self, engine, surface, sql, cls, code):
        """execute() and profile() share one envelope, so a failure
        surfaces as the same class and STRAKE code from either."""
        import strake_spark.errors as errors

        with pytest.raises(StrakeError) as ei:
            getattr(engine, surface)(sql)
        assert type(ei.value) is getattr(errors, cls)
        assert ei.value.code is code

    def test_engine_error_crosses_flight_with_code(self, engine):
        import strake_spark as ss
        from strake_spark.errors import EngineError
        from strake_spark.server import make_server

        srv = make_server(engine)
        t = threading.Thread(target=srv.serve, daemon=True)
        t.start()
        try:
            remote = ss.connect(f"grpc://127.0.0.1:{srv.port}")
            try:
                with pytest.raises(EngineError) as ei:
                    remote.execute("SELECT n_nmae FROM ec_nation")
                assert ei.value.code is ErrorCode.FIELD_NOT_FOUND
            finally:
                remote.close()
        finally:
            srv.shutdown()

    def test_remote_translate_parses_coded_and_legacy_markers(self):
        from strake_spark.remote import _translate

        # new server: marker carries the wire code, which wins over the
        # client class default
        err = _translate(
            Exception("STRAKE_ERR:QueryRejected:STRAKE-4002:rls denied")
        )
        assert isinstance(err, QueryRejected)
        assert err.code is ErrorCode.AUTHORIZATION_DENIED
        assert "rls denied" in str(err)
        # pre-code server: class default code applies
        err = _translate(Exception("STRAKE_ERR:BudgetExceeded:plan too big"))
        assert isinstance(err, BudgetExceeded)
        assert err.code is ErrorCode.BUDGET_EXCEEDED
