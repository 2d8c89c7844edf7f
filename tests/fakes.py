"""Test doubles shared by the metadata-only tests."""


def fake_file(path: str, size: int = 1) -> tuple:
    """A written-file tuple in the seven-field shape
    ``LakeTable.list_written_files`` returns — (path, size, min_seq,
    max_seq, key_unique, min_key, max_key) — for a data file that does
    not exist: no seq or key bounds, and not key-unique, so a
    merge-on-read scan would fold it."""
    return (path, size, None, None, False, None, None)
