import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sample_dms_s3_kinesis_spark.catalog import (
    Catalog,
    REFERENCE_TABLE_DEFINITION,
)
from sample_dms_s3_kinesis_spark.session import session

# Fixture data — verbatim the reference's sample corpus
# (/root/reference/lib/query.py:1-27), which is the spec for the golden
# event counts (run.py:170, run.py:198).
EMPLOYEE_CSV = """101,Smith,Bob,2014-06-04,New York
102,Smith,Bob,2015-10-08,Los Angeles
103,Smith,Bob,2017-03-13,Dallas
104,Smith,Bob,2017-03-13,Dallas"""

DEPARTMENT_CSV = """201,HR
202,IT
203,Finance"""

PROJECT_CSV = """301,Project1,Description1
302,Project2,Description2
303,Project3,Description3"""

CDC_FILE_1 = """INSERT,employee,hr,101,Smith,Bob,2014-06-04,New York
UPDATE,employee,hr,101,Smith,Bob,2015-10-08,Los Angeles
UPDATE,employee,hr,101,Smith,Bob,2017-03-13,Dallas
DELETE,employee,hr,101,Smith,Bob,2017-03-13,Dallas"""

CDC_FILE_2 = """INSERT,department,hr,204,Software
INSERT,employee,hr,101,Smith,Bob,2015-10-08,Los Angeles
INSERT,project,hr,101,Project1,Description1
DELETE,project,hr,101,Project1,Description1
DELETE,department,hr,301,Software
UPDATE,employee,hr,101,Smith,Bob,2017-03-13,Dallas
DELETE,employee,hr,101,Smith,Bob,2017-03-13,Dallas"""


@pytest.fixture(scope="session")
def spark():
    yield session("test")


@pytest.fixture(scope="session")
def catalog():
    return Catalog.from_external_table_definition(REFERENCE_TABLE_DEFINITION)


@pytest.fixture()
def source_root(tmp_path):
    """Lay out the full-load fixture exactly like run.py:162-164:
    ``sourceData/hr/{table}/LOADnnn.csv``."""
    root = tmp_path / "sourceData"
    for table, name, body in [
        ("employee", "LOAD001.csv", EMPLOYEE_CSV),
        ("department", "LOAD002.csv", DEPARTMENT_CSV),
        ("project", "LOAD003.csv", PROJECT_CSV),
    ]:
        d = root / "hr" / table
        d.mkdir(parents=True)
        (d / name).write_text(body + "\n")
    return str(root)


@pytest.fixture()
def cdc_dir(tmp_path):
    d = tmp_path / "changedata"
    d.mkdir(parents=True)
    return str(d)


def write_cdc_file(cdc_dir: str, seq: int, body: str) -> str:
    """changedata/cdc0000000001.csv naming (run.py:194-195)."""
    path = os.path.join(cdc_dir, f"cdc{seq:010d}.csv")
    with open(path, "w") as f:
        f.write(body + "\n")
    return path
