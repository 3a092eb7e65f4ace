import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from string_grouper_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8")
    s = get_spark("string_grouper_spark-tests")
    yield s


@pytest.fixture
def settled_persisted(spark):
    """() -> registered cache entries once collection has caught up: py4j
    sends a collected Python object's JVM release from a worker thread that
    polls about once a second, so wait that long between the Python and the
    JVM collection, until two readings agree."""
    import gc
    import time

    sc = spark.sparkContext

    def read() -> int:
        last = None
        for _ in range(8):
            gc.collect()
            time.sleep(1.1)
            sc._jvm.System.gc()
            time.sleep(0.3)
            size = sc._jsc.getPersistentRDDs().size()
            if size == last:
                return size
            last = size
        return last

    return read


@pytest.fixture
def customers_df():
    """Reference test fixture (test_string_grouper.py:19-29)."""
    return pd.DataFrame(
        [
            ("BB016741P", "Mega Enterprises Corporation", "Address0", "Tel0", "Description0", 0.2),
            ("CC082744L", "Hyper Startup Incorporated", "", "Tel1", "", 0.5),
            ("AA098762D", "Hyper Startup Inc.", "Address2", "Tel2", "Description2", 0.3),
            ("BB099931J", "Hyper-Startup Inc.", "Address3", "Tel3", "Description3", 0.1),
            ("HH072982K", "Hyper Hyper Inc.", "Address4", "", "Description4", 0.9),
            ("EE059082Q", "Mega Enterprises Corp.", "Address5", "Tel5", "Description5", 1.0),
        ],
        columns=("Customer ID", "Customer Name", "Address", "Tel", "Description", "weight"),
    )


@pytest.fixture
def customers_df2():
    """Reference 7-row variant (test_string_grouper.py:30-41)."""
    return pd.DataFrame(
        [
            ("BB016741P", "Mega Enterprises Corporation", "Address0", "Tel0", "Description0", 0.2),
            ("CC082744L", "Hyper Startup Incorporated", "", "Tel1", "", 0.5),
            ("AA098762D", "Hyper Startup Inc.", "Address2", "Tel2", "Description2", 0.3),
            ("BB099931J", "Hyper-Startup Inc.", "Address3", "Tel3", "Description3", 0.1),
            ("DD012339M", "HyperStartup Inc.", "Address4", "Tel4", "Description4", 0.1),
            ("HH072982K", "Hyper Hyper Inc.", "Address5", "", "Description5", 0.9),
            ("EE059082Q", "Mega Enterprises Corp.", "Address6", "Tel6", "Description6", 1.0),
        ],
        columns=("Customer ID", "Customer Name", "Address", "Tel", "Description", "weight"),
    )
