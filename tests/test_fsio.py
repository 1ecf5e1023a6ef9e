"""Guard that keeps dynamic partition overwrites and the absent-dataset
whitelist on their ``fsio`` helpers."""

import pathlib

import firebolt_cdc_lambda_spark


def test_dynamic_overwrites_and_read_errors_only_through_fsio():
    """A hand-set dynamic ``partitionOverwriteMode`` outside fsio.py is
    a partition overwrite that can forget to drop the partitions it
    emptied; a ``getErrorClass()`` call is the deprecated spelling of
    the read-error condition (``fsio.is_absent``).  Only the session's
    own default in session.py is exempt."""
    pkg = pathlib.Path(firebolt_cdc_lambda_spark.__file__).parent
    stray = []
    for f in sorted(pkg.rglob("*.py")):
        rel = f.relative_to(pkg).as_posix()
        if rel == "fsio.py":
            continue
        prev = ""
        for n, line in enumerate(f.read_text().splitlines(), 1):
            dynamic = ('"dynamic"' in line
                       and "partitionOverwriteMode" in prev + line
                       and not (rel == "session.py" and ".config(" in line))
            if dynamic or "getErrorClass(" in line:
                stray.append(f"{rel}:{n}: {line.strip()}")
            prev = line
    assert stray == []
