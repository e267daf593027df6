"""SparkSession factory tuned for the VNAVC-on-Spark engine.

Defaults are chosen for the 100 TB posture (SURVEY.md §7):

- AQE on (coalesce post-shuffle partitions, skew-join splitting) —
  the reference corpus is heavily skewed (2.5 h vs 20+ h books;
  BASELINE.md "Book duration range"), so per-book groups skew hard.
- Arrow on — every pandas-UDF island (Vietnamese text, audio
  concat/align/cut) transfers via Arrow batches instead of pickled
  rows.
- UTC session timezone — deterministic timestamp semantics that match
  the DuckDB correctness oracle.
- shuffle partitions default to the local core count; on a real
  cluster this is overridden via env/conf (rule of thumb: 2-3× total
  executor cores, or rely on AQE coalescing from a high initial
  count).
- local masters start the Python daemon through
  ``vnavc_spark._pyworker``. Before every task pyspark's worker calls
  ``importlib.invalidate_caches()``, and on CPython 3.10-3.12 that
  re-reads ``pyspark.zip``'s 1,328-entry directory once per zip
  importer (16 in a worker): 0.16 s of Python CPU per task on a
  4-core host, where a warm 5-row pandas UDF action over 4 tasks took
  0.46 s. The entry module re-reads an archive only when it has
  changed; the same action then takes 0.17 s.

Two one-time costs that Spark's defaults put on a fresh session's first
use are turned off, both measured in a warmed session on a 4-core host:

- ICU case mapping off. With ``spark.sql.icu.caseMappings.enabled`` at
  its default (true) the first ``lower()``/``upper()`` in a JVM loads
  ICU's case-mapping tables: the first ``F.lower`` over one row took
  1.35-1.94 s, against 0.18-0.24 s with the option off. Off, Spark maps
  non-ASCII strings with Java's ``String.toLowerCase()``/
  ``toUpperCase()`` instead of ICU's ``UCharacter`` methods. Both follow
  the JVM default locale (Spark calls ICU without a locale, so a ``tr``
  JVM lowers ``İ`` to ``i`` either way). What differs is the Unicode
  version of the tables: over every code point from U+0080 to U+2FFFF,
  alone and in context, the two disagree only on 134 letters that JDK
  17's Unicode 13 tables do not case-map (added in Unicode 14-16, e.g.
  U+A7C0-A7DC, Vithkuqi). Vietnamese, ``đ``/``Đ``, ``İ`` -> ``i̇`` and
  the final sigma map the same either way.
  Locale caveat: ``tr``, ``az`` and ``lt`` tailor case mapping, and
  each library carries its own tailoring rules. Under ``lt`` the two
  disagree on 42 more letters (math-alphanumeric i/j and other rare
  soft-dotted letters followed by U+0307, uppercased); under ``tr`` the
  scan found no extra difference. When the JVM default language is one
  of these three and the caller did not set the option, ``get_spark``
  keeps Spark's default (ICU on) rather than rest on one scan per
  tailoring, and such a session pays the table load again.
- One Python worker pool. Spark keys its Python daemons and workers by
  their environment. SQL UDF runners add ``SPARK_SIMPLIFIED_TRACEBACK=1``
  to it and the RDD runner does not, so the first RDD-path Python task
  (``createDataFrame`` from local rows pickles them through a PythonRDD
  map) starts a second daemon and forks a second set of workers:
  1.49-1.66 s after a UDF warm-up, against 0.26-0.37 s with one pool.
  For ``local`` masters the variable is set in the executor environment
  too, so both paths share one daemon; RDD-path errors then get the
  simplified traceback that UDF errors already had.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Tuned defaults; every entry can be overridden by the caller or by
#: ``spark-defaults.conf`` on a real cluster.
DEFAULT_CONF: dict[str, str] = {
    # Local-mode heap: the JVM default (1g) starves 32 concurrent
    # tasks' shuffle-spill merges on candidate-heavy aggregations
    # (q207's radius-2 blocking OOM'd in the spill READERS at sf0.1 —
    # each merge opens a 1 MB ReadAheadInputStream per spill file).
    # r11 set 8g; r13 measured the ER-chain aggregates GC-bound at
    # 0.25 g per concurrent task (ER trio 18.0 -> 16.9 s at 16g,
    # fresh-session 3-rep medians) and raised the default to 16g =
    # 0.5 g/thread — still LEAN against production sizing (clusters
    # run 8-64g executors at >=2 g/core; this box is 128 GiB), so
    # the faithful-posture argument holds at either value. Only
    # effective when the builder launches the JVM (a pre-existing
    # gateway keeps its heap); override via $SPARK_GRAFT_DRIVER_MEM.
    "spark.driver.memory": os.environ.get(
        "SPARK_GRAFT_DRIVER_MEM", "16g"
    ),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Keep pandas-UDF batches bounded so audio blobs never blow the
    # executor heap (path-not-payload is the primary defense; this is
    # the backstop).
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    # Parquet outputs: the published dataset, CLI stage outputs, stream
    # sinks and streaming state.
    "spark.sql.parquet.compression.codec": "snappy",
    "spark.sql.parquet.filterPushdown": "true",
    # local mode: silence the progress bar in test output
    "spark.ui.showConsoleProgress": "false",
    # Java case mapping instead of ICU's: the first lower()/upper() in a
    # JVM no longer loads ICU's tables (1.35-1.94 s -> 0.18-0.24 s on a
    # 4-core host). Both follow the JVM default locale; they differ only
    # on letters newer than Unicode 13, and under the locales in
    # TAILORED_CASE_LANGUAGES, where get_spark keeps ICU on (see the
    # module docstring).
    "spark.sql.icu.caseMappings.enabled": "false",
}

#: JVM default languages whose case rules are locale-tailored: there
#: ``get_spark`` leaves ICU case mapping at Spark's default (on) unless
#: the caller set it.
TAILORED_CASE_LANGUAGES = frozenset({"tr", "az", "lt"})

_ICU_CASE_MAPPINGS = "spark.sql.icu.caseMappings.enabled"

#: Daemon entry for ``local`` masters, where the Python daemon is a
#: child of this process. It skips the per-task re-read of
#: ``pyspark.zip`` (0.16 s of worker CPU per task on CPython 3.11, see
#: the module docstring). Other masters keep Spark's default daemon.
LOCAL_DAEMON_MODULE = "vnavc_spark._pyworker"

# the directory that holds the ``vnavc_spark`` package: the daemon
# imports the entry module from it whatever this process's cwd is
_ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "vnavc-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or
    ``local[*]``) so the same entry points run in driver tests and on
    a cluster (where ``master`` is supplied by spark-submit).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master is None and not os.environ.get("SPARK_MASTER"):
        master = "local[*]"
    if master is not None:
        builder = builder.master(master)

    conf = dict(DEFAULT_CONF)
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8)
        )
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    if master is not None and (master == "local" or master.startswith("local[")):
        conf.setdefault("spark.python.daemon.module", LOCAL_DAEMON_MODULE)
        key = "spark.executorEnv.PYTHONPATH"
        conf[key] = os.pathsep.join(p for p in (conf.get(key), _ENGINE_ROOT) if p)
        # the SQL UDF runners add this to the worker environment; the RDD
        # runner carries it only from here, so both share one worker pool
        conf.setdefault("spark.executorEnv.SPARK_SIMPLIFIED_TRACEBACK", "1")
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if _ICU_CASE_MAPPINGS not in (extra_conf or {}) and (
        _jvm_language(spark) in TAILORED_CASE_LANGUAGES
    ):
        spark.conf.set(_ICU_CASE_MAPPINGS, "true")
    return spark


def _jvm_language(spark: SparkSession) -> str:
    """The JVM default locale's language, e.g. ``en`` or ``tr``."""
    return spark.sparkContext._jvm.java.util.Locale.getDefault().getLanguage()
