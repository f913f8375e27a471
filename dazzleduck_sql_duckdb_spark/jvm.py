"""The engine's JVM side: one jar, `jars/dd_arrow_shim.jar`, built from
every `scala/*.scala` file by `tools/build_shim.sh`. It holds the DSv2
remote reader (`scala/DdArrowShim.scala`, format ``dd_arrow_dsv2``) and
the dedup kernels (`scala/DdKernels.scala`). `register(spark)` loads it
into a session; `sources` and `operators` both call it themselves."""

from __future__ import annotations

import os

_JAR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "jars", "dd_arrow_shim.jar"
)


def register(spark) -> None:
    """Make the jar's classes resolve in this session.

    The jar is added with ``ADD JAR`` once per SparkContext: the check
    reads the context's own jar list, so a restarted session loads it
    again. ``ADD JAR`` installs the session's jar class loader only on
    the JVM thread that ran it, and py4j serves each Python thread from
    its own JVM thread, so later calls install it on the caller's."""
    jars = spark.sparkContext._jsc.sc().listJars().mkString("\n")
    name = os.path.basename(_JAR)
    if any(j.rsplit("/", 1)[-1] == name for j in jars.split("\n")):
        spark._jvm.java.lang.Thread.currentThread().setContextClassLoader(
            spark._jsparkSession.sharedState().jarClassLoader()
        )
    else:
        spark.sql(f"ADD JAR {_JAR}")


def kernels(spark):
    """The `DdKernels` Scala object, with the jar loaded."""
    register(spark)
    return spark._jvm.org.apache.spark.sql.dazzleduck.DdKernels
