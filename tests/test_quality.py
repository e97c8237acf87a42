"""Quality rules (validation/rename/date/mask) and reliability wrappers
(retry/backoff classification, circuit breaker state machine) — mirrors
reference tests/unit/test_retry.py and the FR-057/FR-059 policies."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from mongodb_cdc_delta_spark.quality import (
    CircuitBreaker,
    CircuitOpenError,
    DateConversion,
    FieldRename,
    MaskRule,
    RetryConfig,
    ValidationRule,
    apply_transformations,
    retry_call,
    validate_split,
)
from mongodb_cdc_delta_spark.quality.reliability import (
    is_retryable,
    is_schema_error,
)


class TestValidation:
    def test_split_valid_invalid(self, spark):
        df = spark.createDataFrame(
            [(1, "a", 10.0), (2, None, 5.0), (3, "c", -5.0), (4, None, -1.0)],
            "id long, name string, bal double",
        )
        rules = [
            ValidationRule("name_required", "name IS NOT NULL"),
            ValidationRule("bal_positive", "bal >= 0"),
        ]
        valid, invalid = validate_split(df, rules)
        assert sorted(r.id for r in valid.collect()) == [1]
        inv = {r.id: r["_failed_rules"] for r in invalid.collect()}
        assert inv[2] == ["name_required"]
        assert inv[3] == ["bal_positive"]
        assert sorted(inv[4]) == ["bal_positive", "name_required"]

    def test_no_rules_passthrough(self, spark):
        df = spark.createDataFrame([(1,)], "id long")
        valid, invalid = validate_split(df, [])
        assert valid.count() == 1 and invalid.count() == 0


class TestTransformations:
    def test_rename_and_dates(self, spark):
        df = spark.createDataFrame(
            [(1, "2024-01-15T12:30:00")], "id long, created string"
        )
        out = apply_transformations(
            df,
            renames=[FieldRename("created", "created_at")],
            date_rules=[DateConversion("created_at", to="unix")],
        )
        row = out.first()
        assert row["created_at"] == 1705321800

    def test_epoch_to_iso(self, spark):
        df = spark.createDataFrame([(1, 1705321800)], "id long, t long")
        out = apply_transformations(
            df, date_rules=[DateConversion("t", to="iso")]
        )
        assert out.first()["t"] == "2024-01-15T12:30:00"

    def test_mask_strategies(self, spark):
        df = spark.createDataFrame(
            [(1, "alice@example.com", "4111111111111111", "secret")],
            "id long, email string, card string, note string",
        )
        out = apply_transformations(
            df,
            mask_rules=[
                MaskRule("email", "hash"),
                MaskRule("card", "partial", keep_last=4),
                MaskRule("note", "redact"),
            ],
        ).first()
        assert len(out["email"]) == 64 and out["email"] != "alice@example.com"
        assert out["card"] == "************1111"
        assert out["note"] == "***"

    def test_mask_null_safe(self, spark):
        df = spark.createDataFrame([(1, None)], "id long, email string")
        out = apply_transformations(df, mask_rules=[MaskRule("email", "hash")])
        assert out.first()["email"] is None


class TestRetry:
    def test_retries_transient_then_succeeds(self):
        calls = []

        def flaky():
            calls.append(1)
            if len(calls) < 3:
                raise IOError("connection reset by peer")
            return "ok"

        out = retry_call(
            flaky, RetryConfig(max_attempts=5, jitter=False), sleep=lambda s: None
        )
        assert out == "ok" and len(calls) == 3

    def test_non_retryable_raises_immediately(self):
        calls = []

        def bad():
            calls.append(1)
            raise ValueError("bad argument")

        with pytest.raises(ValueError):
            retry_call(bad, RetryConfig(max_attempts=5), sleep=lambda s: None)
        assert len(calls) == 1

    def test_exhausts_attempts(self):
        def always():
            raise IOError("timeout talking to storage")

        with pytest.raises(IOError):
            retry_call(always, RetryConfig(max_attempts=2), sleep=lambda s: None)

    def test_delay_caps_and_grows(self):
        cfg = RetryConfig(
            initial_delay=1.0, exponential_base=2.0, max_delay=5.0, jitter=False
        )
        assert [cfg.delay(i) for i in range(4)] == [1.0, 2.0, 4.0, 5.0]

    def test_classification(self):
        assert is_retryable(IOError("Connection refused"))
        assert is_retryable(RuntimeError("HTTP 503 service unavailable"))
        assert not is_retryable(ValueError("division by zero"))
        assert is_schema_error(Exception("cannot resolve column 'x'"))
        assert not is_schema_error(Exception("out of memory"))


class TestCircuitBreaker:
    def test_opens_after_threshold_and_recovers(self):
        t = [0.0]
        cb = CircuitBreaker(
            failure_threshold=2, timeout_seconds=10.0, clock=lambda: t[0]
        )

        def boom():
            raise IOError("down")

        for _ in range(2):
            with pytest.raises(IOError):
                cb.call(boom)
        assert cb.state == "open"
        with pytest.raises(CircuitOpenError):
            cb.call(lambda: "x")
        t[0] = 11.0
        assert cb.state == "half-open"
        assert cb.call(lambda: "ok") == "ok"
        assert cb.state == "closed"

    def test_half_open_failure_reopens(self):
        t = [0.0]
        cb = CircuitBreaker(
            failure_threshold=1, timeout_seconds=10.0, clock=lambda: t[0]
        )
        with pytest.raises(IOError):
            cb.call(lambda: (_ for _ in ()).throw(IOError("x")))
        t[0] = 11.0
        assert cb.state == "half-open"
        with pytest.raises(IOError):
            cb.call(lambda: (_ for _ in ()).throw(IOError("y")))
        assert cb.state == "open"
        with pytest.raises(CircuitOpenError):
            cb.call(lambda: "x")

    def test_half_open_admits_exactly_one_concurrent_probe(self):
        import threading

        t = [0.0]
        cb = CircuitBreaker(
            failure_threshold=1, timeout_seconds=10.0, clock=lambda: t[0]
        )
        with pytest.raises(IOError):
            cb.call(lambda: (_ for _ in ()).throw(IOError("x")))
        t[0] = 11.0
        n = 8
        ran, rejected = [], []
        release = threading.Event()
        lock = threading.Lock()

        def probe():
            with lock:
                ran.append(1)
            # hold the probe in flight until every other caller returned
            assert release.wait(10)
            return "ok"

        def caller():
            try:
                cb.call(probe)
            except CircuitOpenError:
                with lock:
                    rejected.append(1)
                    if len(rejected) == n - 1:
                        release.set()

        threads = [threading.Thread(target=caller) for _ in range(n)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(15)
        assert not any(th.is_alive() for th in threads)
        assert len(ran) == 1 and len(rejected) == n - 1
        assert cb.state == "closed"

    def test_concurrent_failures_all_counted(self):
        import os
        import sys
        import threading

        # more threads than cores and a short switch interval: a lost
        # `_failures += 1` update shows as a short count
        n, calls = 4 * (os.cpu_count() or 1), 300
        cb = CircuitBreaker(failure_threshold=10**9)
        start = threading.Barrier(n)

        def caller():
            start.wait()
            for _ in range(calls):
                try:
                    cb.call(lambda: (_ for _ in ()).throw(IOError("x")))
                except IOError:
                    pass

        prev = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            threads = [threading.Thread(target=caller) for _ in range(n)]
            for th in threads:
                th.start()
            for th in threads:
                th.join(60)
        finally:
            sys.setswitchinterval(prev)
        assert not any(th.is_alive() for th in threads)
        assert cb._failures == n * calls
        assert cb.state == "closed"


class TestQualityObserve:
    def test_metrics_ride_the_action(self, spark):
        from mongodb_cdc_delta_spark.quality.rules import quality_observe

        df = spark.createDataFrame(
            [(1, "a"), (2, None), (3, None)], "id long, v string"
        )
        observed, obs = quality_observe(df, name="q1")
        assert observed.count() == 3  # the action that materializes metrics
        got = obs.get
        assert got["rows"] == 3
        assert got["nulls_id"] == 0
        assert got["nulls_v"] == 2


class TestEncryptMask:
    KEY = "0123456789abcdef"

    def test_roundtrip_restores_plaintext(self, spark):
        from mongodb_cdc_delta_spark.quality.rules import (
            MaskRule,
            mask_columns,
            unmask_columns,
        )

        df = spark.createDataFrame(
            [(1, "alice@example.com"), (2, "bob@example.com"), (3, None)],
            "id long, email string",
        )
        rules = [MaskRule("email", "encrypt", key=self.KEY)]
        masked = mask_columns(df, rules)
        m = {r["id"]: r["email"] for r in masked.collect()}
        assert m[1] != "alice@example.com" and m[1] is not None
        assert m[3] is None  # NULL stays NULL
        back = {r["id"]: r["email"] for r in unmask_columns(masked, rules).collect()}
        assert back == {1: "alice@example.com", 2: "bob@example.com", 3: None}

    def test_random_iv_is_semantically_secure(self, spark):
        from mongodb_cdc_delta_spark.quality.rules import (
            MaskRule,
            mask_columns,
        )

        df = spark.createDataFrame(
            [(1, "same"), (2, "same")], "id long, v string"
        )
        out = mask_columns(df, [MaskRule("v", "encrypt", key=self.KEY)]).collect()
        # equal plaintexts yield different ciphertexts under random-IV GCM
        assert out[0]["v"] != out[1]["v"]

    def test_fixed_iv_is_deterministic(self, spark):
        from mongodb_cdc_delta_spark.quality.rules import (
            MaskRule,
            mask_columns,
        )

        rule = MaskRule(
            "v", "encrypt", key=self.KEY, iv_hex="000102030405060708090a0b"
        )
        df = spark.createDataFrame(
            [(1, "same"), (2, "same")], "id long, v string"
        )
        out = mask_columns(df, [rule]).collect()
        assert out[0]["v"] == out[1]["v"]

    def test_missing_or_bad_key_raises(self, spark):
        from mongodb_cdc_delta_spark.quality.rules import (
            MaskRule,
            mask_columns,
        )

        df = spark.createDataFrame([(1, "x")], "id long, v string")
        with pytest.raises(ValueError):
            mask_columns(df, [MaskRule("v", "encrypt")]).collect()
        with pytest.raises(ValueError):
            mask_columns(df, [MaskRule("v", "encrypt", key="short")]).collect()


class TestConstraintSuite:
    def test_failing_constraints_flagged(self, spark):
        from mongodb_cdc_delta_spark.quality.expectations import (
            Constraint,
            verify_suite,
        )

        df = spark.createDataFrame(
            [(1, "a", 5.0), (1, None, -2.0), (3, "zz", 50.0)],
            "id long, code string, amount double",
        )
        dim = spark.createDataFrame([("a",), ("b",)], "code string")
        report = {
            (r["constraint"], r["column"]): r
            for r in verify_suite(
                df,
                [
                    Constraint("uniqueness", "id"),          # dup id=1
                    Constraint("completeness", "code"),      # one null
                    Constraint("min_value", "amount", value=0.0),  # -2
                    Constraint("in_set", "code", value=("a", "b")),  # zz
                    Constraint("ref_integrity", "code", threshold=0.9),
                ],
                refs={"code": dim},
            ).collect()
        }
        assert report[("uniqueness", "id")]["status"] == "fail"
        assert report[("completeness", "code")]["status"] == "fail"
        assert abs(report[("completeness", "code")]["metric"] - 2 / 3) < 1e-6
        assert report[("min_value", "amount")]["status"] == "fail"
        assert report[("min_value", "amount")]["metric"] == -2.0
        assert report[("in_set", "code")]["status"] == "fail"
        # 1 orphan ('zz') of 2 non-null codes → integrity 2/3 of 3 rows?
        # metric = 1 - orphans/n = 1 - 1/3
        assert abs(report[("ref_integrity", "code")]["metric"] - 2 / 3) < 1e-6
        assert report[("ref_integrity", "code")]["status"] == "fail"

    def test_all_pass_on_clean_data(self, spark):
        from mongodb_cdc_delta_spark.queries import all_queries

        reg = all_queries()
        rows = reg["quality_constraint_suite"].fn(
            spark, "/root/testdata/sf0.001"
        ).collect()
        assert len(rows) == 5
        assert all(r["status"] == "pass" for r in rows)
