"""The sf0.001 fixture tables the tests read (TESTDATA.md): one parquet
file per table under this directory."""

SD = "/root/testdata/sf0.001"
