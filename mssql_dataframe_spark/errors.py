"""Error taxonomy for the PySpark-native engine.

Mirrors the reference's exception classes (reference:
mssql_dataframe/core/custom_errors.py:4-71) with Spark-flavored causes.
Class names are preserved so users of the reference can catch the same
exceptions after switching to this engine.
"""

from __future__ import annotations


class EnvironmentODBCDriverNotFound(Exception):
    """Kept for API parity; raised if a JDBC/ODBC passthrough mode is
    requested but unavailable (reference: custom_errors.py:4-7)."""


class UndefinedConversionRule(Exception):
    """SQL type string has no Spark/pandas conversion rule
    (reference: custom_errors.py:10-13, conversion.py:151-156)."""


class SQLTableDoesNotExist(Exception):
    """Table not found in the engine catalog (reference: custom_errors.py:22-25)."""


class SQLColumnDoesNotExist(Exception):
    """Column not found in the target table (reference: custom_errors.py:28-31)."""


class SQLInvalidSyntax(Exception):
    """Dynamic SQL fragment (e.g. a ``where`` string) failed the
    restricted-grammar validation (reference: custom_errors.py:34-37)."""


class SQLUndefinedPrimaryKey(Exception):
    """Operation needs a primary key (default merge/update match columns)
    but the table has none (reference: custom_errors.py:40-43)."""


class SQLInsufficientColumnSize(Exception):
    """Value out of range / too long for the declared SQL type
    (reference: custom_errors.py:46-49, conversion.py:256-326)."""


class SQLNonUnicodeTypeColumn(Exception):
    """Non-ASCII content written to a char/varchar (non-unicode) column
    (reference: custom_errors.py:52-55, conversion.py:329-354)."""


class SQLRecastColumnUnchanged(Exception):
    """modify.column alter produced the identical type (reference:
    custom_errors.py:58-61)."""


class SQLInvalidLengthObjectName(Exception):
    """Identifier longer than 128 characters (reference:
    custom_errors.py:64-67, dynamic.py:29-33)."""


class DataframeColumnDoesNotExist(Exception):
    """Column referenced in an operation is absent from the input
    DataFrame (reference: custom_errors.py:70-73)."""


class DataframeColumnInvalidValue(Exception):
    """Column contains a value that cannot be converted to the target
    SQL type — e.g. a non-numeric string into INT, a decimal exceeding
    the declared precision, or NULL into a NOT NULL column (reference:
    custom_errors.py:68; SQL Server surfaces these as conversion /
    integrity errors)."""


class SQLCheckConstraintViolation(Exception):
    """Row(s) violate a declared CHECK constraint (beyond-reference;
    the Delta ``ALTER TABLE ADD CONSTRAINT`` enforcement analog). SQL
    semantics: a row violates only when the expression is FALSE —
    NULL passes."""


class SQLConcurrentWriteConflict(Exception):
    """Another writer committed a version between this write's snapshot
    read and its commit attempt (beyond-reference; the Delta optimistic
    concurrency ``ConcurrentModificationException`` analog). The write
    was NOT applied — re-read and retry."""


class SQLUniqueConstraintViolation(Exception):
    """Write would create duplicate values in column(s) covered by a
    UNIQUE constraint (beyond-reference; recorded when a FOREIGN KEY
    is accepted against non-PK parent columns — SQL Server requires a
    durable PRIMARY KEY/UNIQUE constraint on FK-referenced columns,
    not a point-in-time scan, so the parent's subsequent writes must
    keep the invariant)."""


class SQLForeignKeyViolation(Exception):
    """Row(s) reference key values absent from the parent table
    (beyond-reference; warehouse engines typically declare FKs
    unenforced — this engine audits on ADD and enforces on write).
    SQL MATCH SIMPLE semantics: a row with any NULL FK column passes."""


class SQLSnapshotUnavailable(Exception):
    """A version's manifest no longer exists — the version was
    vacuumed out of retention (or the manifest was removed externally)
    between the caller choosing it and reading its file list. Raised
    instead of degrading to an empty manifest, which would read as a
    false 'nothing matched'. Beyond-reference: the Delta-style
    VersionNotFoundException analog."""
