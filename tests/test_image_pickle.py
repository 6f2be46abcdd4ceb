"""Pickled sketch images (frequent items, reservoir, priority sample,
VarOpt) are read by a restricted unpickler: an image that names any
global besides the numpy reconstructors and Arrow's value types raises
before that global is called."""

from __future__ import annotations

import datetime
import decimal
import pickle

import numpy as np
import pyarrow as pa
import pytest

from datasketches_java_spark.sketches.frequencies import ItemsSketch
from datasketches_java_spark.sketches.sampling import (
    PrioritySample,
    ReservoirSketch,
)
from datasketches_java_spark.sketches.varopt import VarOptSketch

READERS = [(b"FQ01", ItemsSketch), (b"RS01", ReservoirSketch),
           (b"VO01", PrioritySample), (b"VO02", VarOptSketch)]


class _CreatesFile:
    """Unpickles as ``open(path, "w")``: the file exists iff the
    payload's callable ran."""

    def __init__(self, path):
        self.path = str(path)

    def __reduce__(self):
        return open, (self.path, "w")


@pytest.mark.parametrize("tag,cls", READERS, ids=[t.decode() for t, _ in READERS])
def test_crafted_image_runs_nothing(tag, cls, tmp_path):
    target = tmp_path / "pwned"
    with pytest.raises(ValueError, match="bad sketch image"):
        cls.from_bytes(tag + pickle.dumps(_CreatesFile(target), protocol=4))
    assert not target.exists()


def test_crafted_image_through_sql_runs_nothing(spark, tmp_path):
    from datasketches_java_spark.functions.sql_registry import (
        register_sql_functions)
    register_sql_functions(spark)
    target = tmp_path / "pwned_sql"
    img = b"FQ01" + pickle.dumps(_CreatesFile(target), protocol=4)
    with pytest.raises(Exception, match="bad sketch image"):
        spark.sql(f"SELECT frequent_strings_sketch_result(X'{img.hex()}', 0)"
                  ).collect()
    assert not target.exists()


@pytest.mark.parametrize("item", [
    datetime.date(2020, 1, 2),
    datetime.datetime(2020, 1, 2, 3, tzinfo=datetime.timezone.utc),
    *pa.array([datetime.datetime(2020, 1, 2, 3)],
              pa.timestamp("us", tz="America/Los_Angeles")).to_pylist(),
    datetime.timedelta(seconds=3), decimal.Decimal("1.50"), np.int64(7),
    "s", b"b", 1.5])
def test_images_of_arrow_value_types_still_read(item):
    r = ReservoirSketch(16).update_batch([item, item])
    assert ReservoirSketch.from_bytes(r.to_bytes()).samples == r.samples
    f = ItemsSketch(64).update_batch([item, item])
    assert ItemsSketch.from_bytes(f.to_bytes()).counts == f.counts
