"""Installable packaging (reference parity: setup.py:1-18).

Kept alongside pyproject.toml so `pip install -e .` works even on
environments without the `wheel` package (pip falls back to the
legacy develop path when no [build-system] table is declared). All
metadata lives in pyproject.toml's [project] table; setuptools reads
it from there.
"""

from setuptools import setup

setup()
