"""Sources: synthetic web corpus (input_hint shape), payload and WARC readers."""
