"""The repository's benchmark; run.py is the entry point."""

# the program under test: a package next to this directory
PACKAGE = "datafusion_orc_spark"
