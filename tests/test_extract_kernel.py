"""The extraction kernel outside Spark: the rows ``extract_batches`` emits
equal ``parse_document``'s, and a Python worker that runs it never imports
pandas (pyarrow's ``pa.array`` would, on its first call). The parent writes
the documents as an Arrow IPC stream, as a worker would receive them."""

import json
import pathlib
import subprocess
import sys

import pyarrow as pa
import pyarrow.ipc

REPO = pathlib.Path(__file__).resolve().parent.parent

DOCS = [
    ("d1", "nt", '_:x <http://e/p> "a" .\n<http://e/s> <http://e/p> _:x .\n'),
    ("d2", "ttl", "@prefix e: <http://e/> .\ne:a e:b e:c , e:d ; e:f [ e:g 1 ] .\n"),
    ("d3", "nt", "<http://e/a> <http://e/b> .\n<http://e/s> <http://e/p> <http://e/o> .\n"),
    ("d4", "zzz", "whatever"),
    ("d5", "nq", '<http://e/s> <http://e/p> "x"@en <http://e/g> .\n'),
]

# runs in a fresh interpreter: the kernel's batches, parse_document's rows,
# and whether anything on the way imported pandas
WORKER = """
import json, sys
import pyarrow.ipc
from rio_spark.operators.extract import extract_batches, parse_document

docs = list(pyarrow.ipc.open_stream(sys.argv[1]))
out = [list(zip(*(c.to_pylist() for c in b.columns)))
       for b in extract_batches(iter(docs), None, "conv_id", "text", "format", None)]
expected = []
for b in docs:
    for did, text, fmt in zip(*(c.to_pylist() for c in b.columns)):
        triples, errors = parse_document(did, fmt, text, None)
        expected += [list(t) + [None] * 4 for t in triples]
        expected += [[e[0]] + [None] * 4 + list(e[1:]) for e in errors]
print(json.dumps({"batches": out, "expected": expected, "pandas": "pandas" in sys.modules}))
"""


def _docs_batch() -> pa.RecordBatch:
    ids, fmts, texts = zip(*DOCS)
    return pa.RecordBatch.from_arrays(
        [pa.array(ids), pa.array(texts), pa.array(fmts)], names=["conv_id", "text", "format"]
    )


def test_kernel_rows_equal_parse_document_without_pandas(tmp_path):
    batch = _docs_batch()
    stream = tmp_path / "docs.arrows"
    with pa.OSFile(str(stream), "wb") as f, pyarrow.ipc.new_stream(f, batch.schema) as w:
        w.write_batch(batch.slice(0, 3))
        w.write_batch(batch.slice(3))
    proc = subprocess.run(
        [sys.executable, "-c", WORKER, str(stream)],
        cwd=REPO, capture_output=True, text=True, check=True,
    )
    got = json.loads(proc.stdout)
    assert not got["pandas"], "the extraction kernel imported pandas"
    # one flush at the end: every document's triple rows, then the error rows
    triples = [r for r in got["expected"] if r[5] is None]
    errors = [r for r in got["expected"] if r[5] is not None]
    assert got["batches"] == [triples, errors]
    assert any(r[1].startswith("_:d1_b") for r in triples)  # blank node relabelled
    assert {r[0] for r in triples} == {"d1", "d2", "d3", "d5"}
    assert {(r[0], r[5]) for r in errors} >= {("d4", "UnsupportedFormat")}
    assert "d3" in {r[0] for r in errors}  # the malformed statement
