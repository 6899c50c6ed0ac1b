# ---------------------------------------------------------------------
# Integration lane (build with: docker build --target integration .)
# Placed FIRST so the plain `docker build .` default stays the runtime
# image below.
# Provisions the OPTIONAL JVM dependency this sandbox cannot fetch (no
# network): spark-avro. Running the test suite in this stage flips the
# dependency-gated Avro lane to its positive path: io.avro_available()
# → the vectorized JVM avro tier.
FROM python:3.11-slim AS integration

RUN apt-get update \
    && apt-get install -y --no-install-recommends openjdk-17-jre-headless \
    && rm -rf /var/lib/apt/lists/*
ENV JAVA_HOME=/usr/lib/jvm/java-17-openjdk-amd64

WORKDIR /app
COPY pyproject.toml setup.py README.md ./
COPY dish_data_pipeline_spark ./dish_data_pipeline_spark
COPY tests ./tests
RUN pip install --no-cache-dir .[rest] pytest

# Resolve the JVM package once at build time into the local ivy
# cache so test sessions start offline afterwards.
ENV SPARK_VERSION=4.1.2
RUN python - <<'PY'
from pyspark.sql import SparkSession
import os
pkg = f"org.apache.spark:spark-avro_2.13:{os.environ['SPARK_VERSION']}"
spark = (SparkSession.builder.master("local[2]")
         .config("spark.jars.packages", pkg)
         .getOrCreate())
spark.range(1).count()
spark.stop()
PY
ENV SPARK_GRAFT_CPUS=4
ENTRYPOINT ["python", "-m", "pytest", "tests/", "-q"]

# Container packaging (reference parity: Docker/Dockerfile:1-19,
# which SURVEY appendix A flags as broken — COPYs a requirements
# file that doesn't exist and never installs Java). This one is
# correct by construction: Spark needs a JVM, so install a JRE next
# to Python and let `pip install .` pull pyspark.
#
# NOTE: not buildable inside the development container (no Docker,
# no network); structure verified against the pyproject deps.

FROM python:3.11-slim

RUN apt-get update \
    && apt-get install -y --no-install-recommends openjdk-17-jre-headless \
    && rm -rf /var/lib/apt/lists/*
ENV JAVA_HOME=/usr/lib/jvm/java-17-openjdk-amd64

WORKDIR /app
COPY pyproject.toml setup.py README.md ./
COPY dish_data_pipeline_spark ./dish_data_pipeline_spark
RUN pip install --no-cache-dir .[rest]

# Local-mode defaults; on a cluster, submit with spark-submit and
# your cluster manager instead. session.py reads SPARK_GRAFT_CPUS
# ('*' → local[*]).
ENV SPARK_GRAFT_CPUS=*
ENTRYPOINT ["python", "-m", "dish_data_pipeline_spark"]
CMD ["--help"]
