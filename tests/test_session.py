"""Config-contract pin for the session factory: the settings the whole
correctness and scale story silently depends on. Losing any of these
in a refactor produces distant, confusing failures (UTC: every
timestamp oracle; AQE trio: the documented skew/coalesce behavior;
Arrow: every pandas-UDF hot path), so they fail HERE by name."""

from __future__ import annotations

from streaming_data_spark.session import get_session


def test_session_factory_pins_correctness_and_scale_confs(spark):
    # `spark` fixture is built by get_session — assert on the live conf
    conf = spark.conf
    assert conf.get("spark.sql.session.timeZone") == "UTC"
    assert conf.get("spark.sql.adaptive.enabled") == "true"
    assert conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true"
    assert conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    assert (
        conf.get("spark.sql.execution.arrow.pyspark.enabled", "false") == "true"
    )


def test_session_factory_is_reentrant(spark):
    again = get_session(app_name="second-call")
    assert again is spark or again.sparkContext is spark.sparkContext


def test_autosize_shuffle_partitions_floors_at_parallelism(spark, tmp_path):
    """Small inputs (every local test dir) keep the core-count floor —
    autosizing must never DROP below the session's parallelism."""
    from streaming_data_spark.session import autosize_shuffle_partitions

    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        # pin the session BELOW parallelism (1 is below it on any
        # host) so the parallelism leg of the floor
        # (max(parallelism, current conf)) is what binds
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        (tmp_path / "t.bin").write_bytes(b"x" * 1024)
        n = autosize_shuffle_partitions(spark, str(tmp_path))
        assert n == spark.sparkContext.defaultParallelism
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(n)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_autosize_shuffle_partitions_scales_with_bytes_and_caps(
    spark, tmp_path
):
    """The r13 x1000 finding mechanized: initial partitions = ceil of
    input bytes over the per-partition target (AQE coalesces down but
    never splits up past the initial count, so rounding UP is the
    safe direction), bounded by the runaway cap."""
    from streaming_data_spark.session import autosize_shuffle_partitions

    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        (tmp_path / "a.bin").write_bytes(b"x" * 7000)
        (tmp_path / "b.bin").write_bytes(b"x" * 3001)
        # 10001 bytes at a 100-byte target -> ceil = 101 partitions
        n = autosize_shuffle_partitions(spark, str(tmp_path), target_bytes=100)
        assert n == 101
        assert spark.conf.get("spark.sql.shuffle.partitions") == "101"
        # cap binds
        n = autosize_shuffle_partitions(
            spark, str(tmp_path), target_bytes=100, cap=64
        )
        assert n == 64
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_input_bytes_sums_files_and_dirs(spark, tmp_path):
    from streaming_data_spark.session import input_bytes

    (tmp_path / "a.bin").write_bytes(b"x" * 123)
    sub = tmp_path / "sub"
    sub.mkdir()
    (sub / "b.bin").write_bytes(b"x" * 77)
    assert input_bytes(spark, str(tmp_path)) == 200
    assert input_bytes(spark, str(tmp_path / "a.bin")) == 123
    assert input_bytes(spark, str(tmp_path), str(sub)) == 277


def test_input_bytes_raises_on_missing_path(spark, tmp_path):
    """A typo'd path must fail loudly: silently contributing 0 bytes
    would floor the partition count at core parallelism — the exact
    spill cliff autosizing exists to prevent — while reporting the
    run 'autosized'."""
    import pytest

    with pytest.raises(Exception, match="no such path|Path does not exist"):
        from streaming_data_spark.session import input_bytes

        input_bytes(spark, str(tmp_path / "nope"))


def test_input_bytes_file_scheme_and_gateway_fallback(spark, tmp_path):
    """r14 advice: the Hadoop leg and the local fallback must agree on
    scheme handling. Through the JVM a file: URI resolves via the
    Hadoop local FS; with NO gateway the fallback strips the scheme
    before the os.path walk (it used to dead-end on the raw URI)."""
    from streaming_data_spark.session import input_bytes

    (tmp_path / "a.bin").write_bytes(b"x" * 123)
    # live gateway: Hadoop local FS handles the scheme
    assert input_bytes(spark, f"file://{tmp_path}") == 123
    # no gateway: a stub whose _jvm access raises routes to the local
    # fallback, which must strip file: before walking
    class _NoJvm:
        @property
        def _jvm(self):
            raise RuntimeError("gateway down")

    assert input_bytes(_NoJvm(), f"file://{tmp_path}") == 123
    assert input_bytes(_NoJvm(), f"file:{tmp_path / 'a.bin'}") == 123
    import pytest

    with pytest.raises(FileNotFoundError, match="no JVM gateway"):
        input_bytes(_NoJvm(), str(tmp_path / "nope"))


def test_default_shuffle_partitions_carry_aqe_headroom():
    """r14 scale finding: x31's explode-amplified bigram shuffle reads
    30.0 s at x100 with initial partitions = cores (32) and 5.0 s at
    128. AQE coalesces an over-provisioned shuffle down at runtime
    but can never split an under-provisioned one, so the session
    default carries 4x headroom."""
    from streaming_data_spark.session import _default_shuffle_partitions

    assert _default_shuffle_partitions(32) == 128
    assert _default_shuffle_partitions(8) == 32


def test_default_driver_memory_is_half_host_ram_within_bounds():
    """The default driver heap is half of MemTotal, at least 1g and
    at most 32g (the old fixed 32g was twice a 15 GB host's RAM)."""
    from streaming_data_spark.session import _default_driver_memory, _mem_total_kb

    gib = 1 << 20  # kB
    assert _default_driver_memory(16 * gib) == "8g"
    assert _default_driver_memory(15 * gib) == "7g"
    assert _default_driver_memory(1 * gib) == "1g"
    assert _default_driver_memory(512 * gib) == "32g"
    assert _mem_total_kb() > 0


def test_autosize_floor_includes_current_session_setting(spark, tmp_path):
    """Autosizing only ever RAISES: with the session already above the
    byte-derived count, the current setting is kept (the same
    asymmetry as the 4x default — undershoot is the direction AQE
    cannot repair)."""
    from streaming_data_spark.session import autosize_shuffle_partitions

    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "96")
        (tmp_path / "t.bin").write_bytes(b"x" * 1024)
        n = autosize_shuffle_partitions(spark, str(tmp_path))
        assert n == 96  # floor = max(parallelism 32, current 96)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
