"""Same-host benchmark of tsengine's production job and its readers."""
