import os, sys, tempfile, time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sample_dms_s3_kinesis_spark.catalog import Catalog, REFERENCE_TABLE_DEFINITION
from sample_dms_s3_kinesis_spark.tasks import FullLoadTask
from sample_dms_s3_kinesis_spark.streaming.cdc_task import CdcTask
from sample_dms_s3_kinesis_spark.apply import ParquetTargetStore
from sample_dms_s3_kinesis_spark.session import session
from sample_dms_s3_kinesis_spark.sinks import MemorySink

spark = session("test")

tmp = tempfile.mkdtemp()
root = os.path.join(tmp, "sourceData")
fixtures = {
    "employee/LOAD001.csv": "101,Smith,Bob,2014-06-04,New York\n102,Smith,Bob,2015-10-08,Los Angeles\n103,Smith,Bob,2017-03-13,Dallas\n104,Smith,Bob,2017-03-13,Dallas\n",
    "department/LOAD002.csv": "201,HR\n202,IT\n203,Finance\n",
    "project/LOAD003.csv": "301,Project1,Description1\n302,Project2,Description2\n303,Project3,Description3\n",
}
for rel, body in fixtures.items():
    p = os.path.join(root, "hr", rel)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    open(p, "w").write(body)

catalog = Catalog.from_external_table_definition(REFERENCE_TABLE_DEFINITION)
sink = MemorySink()
fl = FullLoadTask(spark, catalog, root, sink)
fl.start()
evs = sink.events
ops = {}
for e in evs:
    op = e["metadata"]["operation"]
    ops[op] = ops.get(op, 0) + 1
seqs = sorted(r["seq"] for r in sink.records)
pks = {r["partition_key"] for r in sink.records}
print("FULLLOAD status=%s events=%d ops=%s seqs_ok=%s pks=%s" % (
    fl.status, len(evs), sorted(ops.items()), seqs == list(range(1, 17)), sorted(pks)))
assert fl.status == "stopped" and len(evs) == 16
assert ops == {"drop-table": 3, "create-table": 3, "load": 10}
assert all(k.startswith("hr.") for k in pks)

cdc_dir = os.path.join(tmp, "changedata"); os.makedirs(cdc_dir)
sink2 = MemorySink()
store = ParquetTargetStore(os.path.join(tmp, "target"))
cdc = CdcTask(spark, catalog, cdc_dir, sink2, store,
              checkpoint_dir=os.path.join(tmp, "ckpt"))
cdc.start()
print("CDC status before data:", cdc.status)
assert cdc.status == "running"
open(os.path.join(cdc_dir, "cdc0000000001.csv"), "w").write(
"""INSERT,employee,hr,101,Smith,Bob,2014-06-04,New York
UPDATE,employee,hr,101,Smith,Bob,2015-10-08,Los Angeles
UPDATE,employee,hr,101,Smith,Bob,2017-03-13,Dallas
DELETE,employee,hr,101,Smith,Bob,2017-03-13,Dallas
""")
open(os.path.join(cdc_dir, "cdc0000000002.csv"), "w").write(
"""INSERT,department,hr,204,Software
INSERT,employee,hr,101,Smith,Bob,2015-10-08,Los Angeles
INSERT,project,hr,101,Project1,Description1
DELETE,project,hr,101,Project1,Description1
DELETE,department,hr,301,Software
UPDATE,employee,hr,101,Smith,Bob,2017-03-13,Dallas
DELETE,employee,hr,101,Smith,Bob,2017-03-13,Dallas
""")
deadline = time.time() + 150
while time.time() < deadline and len(sink2.records) < 15:
    time.sleep(2)
cdc.stop()
evs2 = sink2.events
ops2 = {}
for e in evs2:
    op = e["metadata"]["operation"]
    ops2[op] = ops2.get(op, 0) + 1
print("CDC events=%d ops=%s" % (len(evs2), sorted(ops2.items())))
assert len(evs2) == 15, len(evs2)
assert ops2 == {"create-table": 4, "insert": 4, "update": 3, "delete": 4}, ops2
emp = cdc.table_state(catalog.get("hr", "employee"))
dep = cdc.table_state(catalog.get("hr", "department"))
prj = cdc.table_state(catalog.get("hr", "project"))
print("NET employee=%d department=%s project=%d" % (
    emp.count(), [(r[0], r[1]) for r in dep.collect()], prj.count()))
assert emp.count() == 0 and prj.count() == 0
assert [(r[0], r[1]) for r in dep.collect()] == [(204, "Software")]
exc = cdc.exceptions_table()
rows = exc.collect()
print("EXC rows=%d table=%s" % (len(rows), rows[0]["TABLE_NAME"] if rows else None))
assert len(rows) == 1 and rows[0]["TABLE_NAME"] == "department"
print("DRIVE OK")
