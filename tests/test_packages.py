"""Package expansion (zip/tar → member pages) over packages built
here with ``zipfile``/``tarfile``: each holds ``.xml`` members beside
a non-``.xml`` one, so the suffix filter has something to drop, and
the ``.tar.gz`` also holds the single ``.pdf`` member an IOP package
carries."""

import io
import tarfile
import zipfile

from pyspark.sql import functions as F

from hepcrawl_spark.sources.packages import (
    expand_packages,
    iter_tar_members,
    iter_zip_members,
    members_as_pages,
)

# three .xml members and one the ".xml" filter drops
_MEMBERS = {
    **{f"S0927650516{i:06d}/main.xml": (
        f'<?xml version="1.0" encoding="UTF-8"?>\n<article><title>'
        f"Package member {i}</title></article>\n").encode()
       for i in range(3)},
    "dataset.toc": b"package table of contents\n",
}


def _zip(members):
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for name, body in members.items():
            zf.writestr(name, body)
    return buf.getvalue()


def _tar(members, mode):
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode=mode) as tf:
        for name, body in members.items():
            info = tarfile.TarInfo(name)
            info.size = len(body)
            tf.addfile(info, io.BytesIO(body))
    return buf.getvalue()


ZIP = _zip(_MEMBERS)
TAR_GZ = _tar({**_MEMBERS, "1943-7722/143/3/336/test_143_3_336.pdf":
               b"%PDF-1.4\n%%EOF\n"}, "w:gz")
TAR_BZ2 = _tar(_MEMBERS, "w:bz2")


def test_zip_members():
    members = list(iter_zip_members(ZIP, ".xml"))
    assert members
    assert all(name.endswith(".xml") for name, _ in members)
    assert all(body.lstrip().startswith(b"<") for _, body in members)


def test_tar_gz_members():
    members = list(iter_tar_members(TAR_GZ, ".xml"))
    assert members
    assert all(name.endswith(".xml") for name, _ in members)


def test_tar_bz2_members():
    members = list(iter_tar_members(TAR_BZ2, ".xml"))
    assert members


def test_tar_pdf_members():
    members = list(iter_tar_members(TAR_GZ, ".pdf"))
    assert [name for name, _ in members] == [
        "1943-7722/143/3/336/test_143_3_336.pdf"
    ]


def test_expand_packages_spark(spark):
    pkgs = spark.createDataFrame(
        [
            ("ftp://example.org/fake_astropart.zip",
             bytearray(ZIP)),
            ("ftp://example.org/test_gz.tar.gz", bytearray(TAR_GZ)),
            ("ftp://example.org/broken.zip", bytearray(b"not a package")),
        ],
        "url string, html binary",
    )
    members = expand_packages(pkgs, suffix=".xml")
    rows = members.collect()
    good = [r for r in rows if r.error is None]
    bad = [r for r in rows if r.error is not None]
    assert good and len(bad) == 1  # errors captured, never raised
    assert bad[0].package_url == "ftp://example.org/broken.zip"

    pages = members_as_pages(members, fmt="jats")
    assert pages.filter(F.col("url").contains("#")).count() == len(good)

    # idempotence: anti-join against already-extracted manifest
    done = pages.select("url").limit(1)
    remaining = members_as_pages(members, fmt="jats", already_extracted=done)
    assert remaining.count() == len(good) - 1
