import json
import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("case-uco-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.path.join(TESTDATA, "sf0.001")


# Golden MFT payload — a verbatim copy of the reference's data fixture
# (its test.json); the FIXTURES.md §3b golden fingerprints/IRIs were
# replayed from exactly these record values. Inline, so the goldens never
# depend on files outside the repo.
MFT_PAYLOAD = {
    "artifact_type": "MFT Records",
    "description": "Master File Table records containing filesystem "
    "metadata and file system structure information",
    "source": "NTFS filesystem analysis",
    "records": [
        {
            "EntryNumber": 42,
            "SequenceNumber": 3,
            "ParentEntryNumber": 5,
            "FullPath": "\\Windows\\Prefetch\\MALICIOUS.EXE-12345678.pf",
            "InUse": True,
            "SI_Created": "2025-09-17T10:30:00Z",
            "SI_Modified": "2025-09-17T10:35:15Z",
            "SI_Accessed": "2025-09-17T10:35:15Z",
            "FN_Created": "2025-09-17T10:30:00Z",
            "FN_Modified": "2025-09-17T10:35:15Z",
        },
        {
            "EntryNumber": 314,
            "SequenceNumber": 1,
            "ParentEntryNumber": 200,
            "FullPath": "\\Users\\Alice\\Documents\\report.docx",
            "InUse": True,
            "SI_Created": "2024-10-05T09:12:00Z",
            "SI_Modified": "2025-01-20T16:33:11Z",
            "SI_Accessed": "2025-01-22T07:02:45Z",
            "FN_Created": "2024-10-05T09:12:00Z",
            "FN_Modified": "2025-01-20T16:33:11Z",
        },
    ],
}

MFT_ONTOLOGY_MAP = {
    "artifacts": ["MFT Record"],
    "classes": ["File"],
    "facets": ["FileFacet", "MftRecordFacet"],
    "properties": {
        "FileFacet": [
            "fileName",
            "filePath",
            "extension",
            "isDirectory",
            "sizeInBytes",
            "allocationStatus",
        ],
        "MftRecordFacet": [
            "mftFileID",
            "mftParentID",
            "mftFileNameCreatedTime",
            "mftFileNameModifiedTime",
            "mftFileNameAccessedTime",
            "mftFileNameRecordChangeTime",
            "mftRecordChangeTime",
            "mftFileNameLength",
            "mftFlags",
            "ntfsHardLinkCount",
            "ntfsOwnerID",
            "ntfsOwnerSID",
        ],
    },
    "relationships": [],
    "analysis": "",
    "additional_details": {},
}


@pytest.fixture(scope="session")
def mft_payload():
    return json.loads(json.dumps(MFT_PAYLOAD))


@pytest.fixture(scope="session")
def mft_ontology_map():
    return json.loads(json.dumps(MFT_ONTOLOGY_MAP))
