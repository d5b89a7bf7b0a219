"""Test helper: force ``Searcher.search`` onto its distributed path."""

from contextlib import contextmanager

import pytest

from lucene_spark.operators import search


@contextmanager
def distributed():
    """Every ``Searcher.search`` plan made inside runs its kernel on Spark
    (none is scored on the driver)."""
    with pytest.MonkeyPatch.context() as m:
        m.setattr(search, "DRIVER_PLAN_POSTINGS", -1)
        yield
