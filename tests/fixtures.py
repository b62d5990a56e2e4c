"""Fixture builders per FIXTURES.md — sheet-shaped rows exercising every
reference branch, plus sink-state frames. Every frame is built through
:func:`dataframe_from_rows` (an Arrow ``LocalTableScan``), so the
pipelines' plans over these fixtures hold no ``parallelize`` scan."""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from ibc_spark.io_.sources import dataframe_from_rows
from ibc_spark.schemas import (  # noqa: F401  (re-exported for tests)
    CONSULTANTS_SCHEMA,
    PROJECTS_SCHEMA,
    USERS_SCHEMA,
)

SLOTS = [f"Slot {i:02d} (GMT-0600)" for i in range(1, 31)]


def roster_rows() -> list[dict]:
    base = {s: "" for s in SLOTS}

    def row(**kw):
        r = dict(base)
        r.update(kw)
        return r

    return [
        # fully valid; availability: slot 1 Mon+Wed, slot 30 fri (case), slot 2 " Friday " (trim)
        row(
            **{
                "Name": "Alice A", "Email": "alice@x.edu", "Gender": "F", "Race": "r1",
                "US Citizen": "Yes", "Residency": "no", "First Generation": "TRUE",
                "Current Role": "NC", "NetID": "alice1", "Year": "Sophomore",
                "Major": "CS", "Minor": "", "College": "Eng", "Consultant Score": "7",
                "Semesters in IBC": "1", "Time Zone": "GMT-0600",
                "Willing to Travel": "yes", "Industry Interests": "tech, health",
                "Functional Area Interests": "strategy", "Status": "New",
                "Week Before Finals Availability": "1",
                "Slot 01 (GMT-0600)": "Monday, Wednesday",
                "Slot 02 (GMT-0600)": " Friday ",
                "Slot 30 (GMT-0600)": "friday, Funday",
            }
        ),
        # missing Major → invalid
        row(**{"Name": "Bob B", "Email": "bob2@x.edu", "Current Role": "SC", "NetID": "bob2", "Major": "  "}),
        # missing Name → invalid
        row(**{"Name": "", "Email": "carl@x.edu", "Current Role": "PM", "NetID": "carl1", "Major": "Econ"}),
        # duplicate email of row 1, later row → its values win
        row(
            **{
                "Name": "Alice A2", "Email": "alice@x.edu", "Gender": "NB",
                "Current Role": "SC", "NetID": "alice1", "Major": "Math",
                "US Citizen": "maybe",  # junk → false
                "Slot 01 (GMT-0600)": "tuesday",
            }
        ),
        # existing user (update path) with boolean variants
        row(
            **{
                "Name": "Bob Old", "Email": "bob@x.edu", "Current Role": "SM",
                "NetID": "bob1", "Major": "ME", "US Citizen": "0",
                "Residency": "TRUE", "First Generation": "",
                "Semesters in IBC": "3",
            }
        ),
    ]


def _state(spark: SparkSession, rows: list[tuple], schema: T.StructType):
    names = schema.fieldNames()
    return dataframe_from_rows(spark, [dict(zip(names, r)) for r in rows], schema)


def users_state(spark: SparkSession):
    rows = [
        (100, "Bob Original", "bob@x.edu", None, None, True, False, False, "NC", "bob1"),
        (101, "Dana D", "dana@x.edu", None, None, False, False, False, "SC", "dana1"),
        (102, "Eve E", "eve@x.edu", None, None, False, False, False, "NC", "eve1"),
        (103, "Finn F", "finn@x.edu", None, None, False, False, False, "EM", "finn1"),
        (104, "Gail G", "gail@x.edu", None, None, False, False, False, "NC", "gail1"),
    ]
    return _state(spark, rows, USERS_SCHEMA)


def consultants_state(spark: SparkSession):
    zeros = "0" * 30
    rows = [
        (100, "Junior", "ME", None, None, "5", 3, None, None, None, None, "New", False)
        + (zeros,) * 7,
        (101, "Senior", "CS", None, None, "8", 5, None, None, None, None, "New", True)
        + (zeros,) * 7,
        (102, "Soph", "Econ", None, None, "6", 1, None, None, None, None, "New", False)
        + (zeros,) * 7,
        (104, "Soph", "CS", None, None, "6", 1, None, None, None, None, "New", False)
        + (zeros,) * 7,
    ]
    return _state(spark, rows, CONSULTANTS_SCHEMA)


def projects_state(spark: SparkSession):
    rows = [
        (9000, "Existing Project", "SP26", "ACME", 103, 101, 102, None, None),
        (9001, "Changed Project", "SP26", "OldCo", 103, None, None, None, None),
    ]
    return _state(spark, rows, PROJECTS_SCHEMA)


def project_rows() -> list[dict]:
    return [
        # new project, human headers (P1 candidate resolution), all roles valid
        {
            "Project Name": "New Project", "Semester": "FA26", "Client Name": "Globex",
            "EM NetID": "finn1", "SM net-id": "dana1", "PM NetID": "eve1",
            "SC 1 net-id": "gail1", "SC2 net-id": "bob1", "Notes": "extra key preserved",
        },
        # identical resubmission of the existing project → J6 skip
        {
            "project_name": "Existing Project", "project_semester": "SP26",
            "client_name": "ACME", "em_netid": "finn1", "sm_netid": "dana1",
            "pm_netid": "eve1",
        },
        # changed resubmission (client changed) → update path
        {
            "project_name": "Changed Project", "project_semester": "SP26",
            "client_name": "NewCo", "em_netid": "finn1",
        },
        # dangling netid → quarantine E003
        {
            "project_name": "Bad Project", "project_semester": "FA26",
            "sm_netid": "ghost9",
        },
        # missing project_name → invalid
        {"project_semester": "FA26", "client_name": "NoName"},
    ]


def roster_df(spark: SparkSession):
    return dataframe_from_rows(spark, roster_rows())


def projects_df(spark: SparkSession):
    return dataframe_from_rows(spark, project_rows())
