"""The --py-files artifact: deterministic, complete, importable from zip."""

import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from tools.make_submit_zip import build_zip  # noqa: E402

REPO = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))


def test_zip_is_deterministic_and_complete(tmp_path):
    z1 = tmp_path / "a.zip"
    z2 = tmp_path / "b.zip"
    m1 = build_zip(REPO, str(z1))
    m2 = build_zip(REPO, str(z2))
    assert m1 == m2
    assert z1.read_bytes() == z2.read_bytes(), "zip must be byte-stable"
    # every package module rides along
    assert "nem_mms_spark/cli.py" in m1
    assert "nem_mms_spark/jobs/encode.py" in m1
    assert "nem_mms_spark/codecs/fsst.py" in m1
    assert not any("__pycache__" in m for m in m1)


def test_kernels_import_from_zip_only(tmp_path):
    """Codec kernels must work with ONLY the zip on sys.path (the
    cluster-executor situation under spark-submit --py-files), also
    after ``drop_archive_importers`` has emptied the importer cache of
    zipimporters: a module first imported after the drop still loads
    from the zip."""
    z = tmp_path / "pkg.zip"
    build_zip(REPO, str(z))
    code = (
        "import numpy as np\n"
        "from nem_mms_spark.selector import ColumnContext, select_and_encode\n"
        "from nem_mms_spark.codecs import decode_block\n"
        "from nem_mms_spark.codecs import native\n"
        "v = np.arange(1000, dtype=np.int64)\n"
        "codec, payload, params, _ = select_and_encode(v, '<i8', ColumnContext())\n"
        "out = decode_block(payload, params, 1000, '<i8', codec)\n"
        "assert (out == v).all(), (codec, out[:5])\n"
        # a 40 KB bytes column is past the selector's FSST floor, so it
        # trains a table (the native trainer when the kernels load)
        "strs = [f'https://www.site{i % 37}.example.org/a/{i}'.encode()\n"
        "        for i in range(1200)]\n"
        "offs = np.zeros(len(strs) + 1, dtype=np.int64)\n"
        "np.cumsum([len(s) for s in strs], out=offs[1:])\n"
        "data = np.frombuffer(b''.join(strs), dtype=np.uint8)\n"
        "assert offs[-1] >= 40000, offs[-1]\n"
        "ctx = ColumnContext()\n"
        "bcodec, bpay, bprm, _ = select_and_encode((data, offs), 'bytes', ctx)\n"
        "assert ctx.fsst_table is not None and ctx.fsst_table.symbol_bytes\n"
        "d, o = decode_block(bpay, bprm, len(strs), 'bytes', bcodec)\n"
        "assert bytes(d[o[0]:o[-1]]) == b''.join(strs), bcodec\n"
        "import sys, zipimport\n"
        "from nem_mms_spark.worker import drop_archive_importers\n"
        "def zips():\n"
        "    return [p for p, f in sys.path_importer_cache.items()\n"
        "            if isinstance(f, zipimport.zipimporter)]\n"
        "assert zips(), 'the engine was not imported from the zip'\n"
        "drop_archive_importers()\n"
        "assert not zips(), zips()\n"
        "assert 'nem_mms_spark.framing' not in sys.modules\n"
        "import pyarrow as pa\n"
        "from nem_mms_spark import framing\n"
        "assert isinstance(framing.__loader__, zipimport.zipimporter)\n"
        "fv, fdt, _vb, _nc, _raw = framing.to_kernel(pa.array(v))\n"
        "fcodec, fpay, fprm, _ = select_and_encode(fv, fdt, ColumnContext())\n"
        "assert (decode_block(fpay, fprm, 1000, fdt, fcodec) == v).all()\n"
        "print('ok', codec, bcodec, native.lib is not None, native.error)\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYTHONPATH"] = str(z)
    r = subprocess.run(
        [sys.executable, "-c", code], cwd=str(tmp_path),
        capture_output=True, text=True, env=env, timeout=120,
    )
    assert r.returncode == 0, r.stderr
    assert r.stdout.startswith("ok")
    if shutil.which("gcc"):
        assert r.stdout.split()[3] == "True", r.stdout
